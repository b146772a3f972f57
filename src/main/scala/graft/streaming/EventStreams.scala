package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming operators over the events schema (SURVEY §2.3).
 *
 * The reference pipeline is batch (monthly Airflow DAG); a Spark-native
 * engine gets the streaming twin for free by re-declaring the same
 * transforms over an unbounded source: watermarks bound state, windowed
 * aggregates replace groupBy, and `flatMapGroupsWithState` covers custom
 * session state. `Bench`/`Verify` exercise the batch twins
 * (q09/q20/q23); these entry points are spec-tested with a memory sink.
 */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Int, total_value: Double)

  /** File-based streaming source with the events schema (parquet dir). */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(path)

  /**
   * Tumbling-window counts/sums per event type with a watermark: state for
   * a window is dropped once the watermark passes it, so long-running
   * streams hold bounded state. Batch twin: SparkEntry q23.
   */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /**
   * Stream-static enrichment: join the unbounded stream against a static
   * dimension. The dim is broadcast per micro-batch — the streaming side
   * never shuffles, mirroring the batch star-join posture.
   */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String,
                    dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /**
   * Streaming exact dedup with bounded state: duplicates of `keys` are
   * dropped while their event time is within the watermark, after which
   * state is evicted — the unbounded-stream twin of batch
   * `Dedup.exactGroups`.
   */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
                           keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /**
   * Streaming corpus intake: the batch curation gates run UNCHANGED on
   * an unbounded document stream — `TextFns` columns are plain
   * per-row expressions with no window/aggregate, so the same lang-id
   * and quality filters that [[graft.operators.Curation.curate]]
   * applies in batch apply per micro-batch here. Only the dedup stage
   * needs a streaming twin: batch keep-first becomes a fingerprint
   * dedup within the watermark horizon (bounded state; an exact global
   * dedup over an unbounded stream is impossible with finite state, so
   * the horizon IS the contract). The source blocklist
   * ([[graft.operators.Curation.blocklistFilter]]) is likewise a
   * stateless per-row gate, so batch and stream share it verbatim.
   */
  def curatedIntake(
      docs: DataFrame, idCol: String, tsCol: String, textCol: String,
      stopwords: Seq[String], langs: Seq[String], minQuality: Double,
      watermark: String = "1 hour",
      blockedSources: Seq[String] = Nil,
      blockedSourcePatterns: Seq[String] = Nil,
      sourceCol: String = "source"): DataFrame = {
    val admitted =
      if (blockedSources.isEmpty && blockedSourcePatterns.isEmpty) docs
      else graft.operators.Curation.blocklistFilter(
        docs, sourceCol, blockedSources, blockedSourcePatterns)
    val text = col(textCol)
    val toks = graft.functions.TextFns.tokens(text)
    admitted.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), text,
        graft.functions.TextFns.langId(toks).as("lang"),
        graft.functions.TextFns.qualityScore(
          graft.functions.TextFns.tokenCount(text),
          graft.functions.TextFns.stopwordHits(toks, stopwords),
          length(text)).as("quality"),
        graft.functions.TextFns.fingerprint(text).as("fp"))
      .filter(col("lang").isin(langs.map(x => x: Any): _*) &&
        col("quality") >= minQuality)
      .dropDuplicatesWithinWatermark("fp")
  }

  /**
   * Streaming twin of [[graft.operators.Dedup.incrementalDedup]]: drop
   * stream documents whose text already exists in a STATIC historical
   * corpus. The baseline folds into a bloom sketch ONCE at plan build
   * (it is a batch frame); each micro-batch then splits per-row on
   * `might_contain` — misses pass with zero join work, hits confirm
   * through a stream-static left-anti join, which is stateless (the
   * static side IS the join state, no watermark needed). In-stream
   * duplicates are the next stage's job ([[dedupWithinWatermark]] /
   * [[curatedIntake]]): this operator's contract is purely
   * "nothing the corpus already has".
   *
   * Delegates to the batch operator verbatim — every op in it
   * (per-row filter, stream-static anti-join, union) is
   * streaming-compatible, so batch and stream share one
   * implementation and one correctness surface (q181's oracle).
   */
  def dedupAgainstCorpus(
      docs: DataFrame, textCol: String, baseline: DataFrame,
      expectedItems: Long, fpp: Double): DataFrame =
    graft.operators.Dedup.incrementalDedup(
      docs, baseline, textCol, expectedItems, fpp)

  /**
   * Stream-stream interval join (the unbounded twin of
   * [[graft.operators.Events.rangeJoin]]): right rows matching on the
   * key within `[leftTs, leftTs + within]`. Watermarks on BOTH sides
   * plus the time-range condition let Spark bound the join state — a
   * buffered row is evicted as soon as the other stream's watermark
   * passes the last instant it could still match. Without the range
   * condition the state grows forever; this operator makes it
   * impossible to omit.
   */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // frame-bound refs: unqualified col() would be AMBIGUOUS_REFERENCE
    // for the canonical case of joining two streams of the same schema
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
  }

  /**
   * Exactly-once-effective warehouse sink: each micro-batch anti-joins
   * the target on `keys` before appending (the streaming twin of the
   * batch idempotent load, reference dag.py:290-445 ON CONFLICT DO
   * NOTHING). Replayed batches — at-least-once delivery, restarts —
   * insert nothing the second time, turning Structured Streaming's
   * at-least-once file sink into effective exactly-once by key. Each
   * batch is one distributed anti-join + append; no driver-side rows.
   *
   * Scale shape: the target is laid out partitioned by
   * `__gbucket = pmod(xxhash64(keys), numBuckets)`, so the per-batch
   * existence check reads ONLY (a) the partitions whose buckets the
   * batch actually touches — partition pruning on the directory layout,
   * decisive for small/bursty batches — and (b) the key columns —
   * column pruning, decisive for wide warehouses even when a large
   * batch touches every bucket. A 100 TB target is never re-scanned in
   * full per batch. The data remains its own dedup index (no side
   * index table whose write could race the data write on a crash);
   * `__gbucket` is an ordinary partition column downstream readers may
   * drop, and it co-locates any later key-equi-join against the target.
   */
  def writeIdempotent(
      stream: DataFrame, spark: SparkSession, targetDir: String,
      keys: Seq[String], checkpointDir: String, numBuckets: Int = 256) =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // existence via the Hadoop FS of the target path — java.io.File
        // is wrong for every non-local scheme (hdfs://, s3a://)
        val path = new org.apache.hadoop.fs.Path(targetDir)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        // The bucket modulus is part of the TARGET's layout, not the
        // caller's: a restart with a different numBuckets must not
        // recompute present-buckets under a modulus the stored
        // __gbucket values never used (silent duplicates). The modulus
        // is recorded in a _graft_buckets marker at layout creation and
        // trusted from there on; a target without a trusted marker
        // (legacy layout, lost marker) falls back to the unpruned —
        // correct, just wider — key-column existence read.
        val marker = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
        val recorded: Option[Int] =
          if (fs.exists(marker)) {
            val in = fs.open(marker)
            try Some(in.readUTF().toInt) finally in.close()
          } else None
        // data presence, by Spark's own path-visibility rule: _/. names
        // are metadata UNLESS they contain '=' (partition dirs — and the
        // __gbucket=N dirs themselves start with '_')
        val hasData = fs.exists(path) &&
          fs.listStatus(path).exists { st =>
            val n = st.getPath.getName
            !(n.startsWith("_") || n.startsWith(".")) || n.contains("=")
          }
        val writeBuckets = recorded.getOrElse(numBuckets)
        // at-least-once sources can repeat a key WITHIN one micro-batch
        // too — dedup the batch itself first (ON CONFLICT semantics:
        // an arbitrary one of the duplicates wins)
        val deduped = batch.dropDuplicates(keys)
          .withColumn("__gbucket",
            pmod(xxhash64(keys.map(col): _*), lit(writeBuckets.toLong)).cast("int"))
        if (!hasData) {
          if (recorded.isEmpty) {
            val out = fs.create(marker, true)
            try out.writeUTF(writeBuckets.toString) finally out.close()
          }
          deduped.write.mode("append").partitionBy("__gbucket").parquet(targetDir)
        } else {
          val existing = spark.read.parquet(targetDir)
          val bucketed = existing.columns.contains("__gbucket")
          if (!bucketed) {
            // legacy flat layout: appending partition dirs next to root
            // files would conflict the directory structure — stay flat,
            // existence read is the unpruned key-column scan
            graft.operators.Relational.idempotentAppend(
                deduped.drop("__gbucket"), existing.select(keys.map(col): _*), keys)
              .write.mode("append").parquet(targetDir)
          } else graft.Caches.scoped { scope =>
            val existingKeys = recorded match {
              case Some(_) =>
                // two actions read the batch below (present-buckets
                // collect + the final write) — persist so the dedup
                // shuffle runs once, not twice; the scope releases it
                // after the write, or when either action throws
                scope.persist(deduped)
                // buckets this batch can collide with: a bounded driver
                // collect (≤ numBuckets ints), the partition-prune predicate
                val present = deduped.select("__gbucket").distinct()
                  .collect().map(_.getInt(0)).toSeq
                existing.filter(col("__gbucket").isin(present: _*))
                  .select(keys.map(col): _*)
              case None =>
                // bucketed layout but no trusted modulus: no pruning
                existing.select(keys.map(col): _*)
            }
            graft.operators.Relational.idempotentAppend(deduped, existingKeys, keys)
              .write.mode("append").partitionBy("__gbucket").parquet(targetDir)
          }
        }
      }

  final case class DriftState(prefix: Double, lo: Double, hi: Double)
  final case class DriftScore(key: String, prefix: Double,
      cusum_pos: Double, cusum_neg: Double, n_seen: Long)

  /**
   * Streaming CUSUM drift monitor — the unbounded twin of
   * Events.cusumScores: per key, maintains the running deviation
   * prefix and its extrema (three doubles of state, CONSTANT per key
   * forever — the ideal streaming-state shape), and emits the current
   * one-sided scores after each micro-batch. Within-batch order follows
   * the batch's row order, so feed pre-bucketed/ordered micro-batches
   * (foreachBatch sorting) when exact tie order matters; the alarm
   * use-case (has the score crossed h·σ?) is threshold-level and
   * insensitive to within-batch ties. State never times out: drift
   * monitoring is indefinite by design; cap the key domain upstream.
   */
  def driftMonitor(
      values: Dataset[(String, Double)], target: Double): Dataset[DriftScore] = {
    values.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[(String, Double)], state: GroupState[DriftState]) => {
          val prev = state.getOption.getOrElse(DriftState(0d, 0d, 0d))
          var prefix = prev.prefix; var lo = prev.lo; var hi = prev.hi
          var n = 0L
          rows.foreach { case (_, v) =>
            prefix += v - target
            if (prefix < lo) lo = prefix
            if (prefix > hi) hi = prefix
            n += 1
          }
          state.update(DriftState(prefix, lo, hi))
          Iterator.single(DriftScore(key, prefix, prefix - lo, hi - prefix, n))
        })(Encoders.product[DriftState], Encoders.product[DriftScore])
  }

  /**
   * Custom-state sessionization via flatMapGroupsWithState with a
   * processing-time timeout: emits a summary when a user goes quiet.
   * This is the (c)-tier extension point of SURVEY §4 — state Spark's
   * built-in windows can't express.
   */
  def sessionize(events: Dataset[Event], timeoutMs: Long = 30000L): Dataset[SessionSummary] = {
    val byUser = events.groupByKey(_.user_id)(Encoders.scalaLong)
    byUser.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout())(
      (userId: Long, rows: Iterator[Event], state: GroupState[SessionSummary]) => {
        if (state.hasTimedOut) {
          val out = state.getOption.iterator
          state.remove()
          out
        } else {
          val batch = rows.toSeq
          val prev = state.getOption.getOrElse(SessionSummary(userId, 0, 0.0))
          val next = SessionSummary(
            userId,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_.value).sum)
          state.update(next)
          state.setTimeoutDuration(timeoutMs)
          Iterator.empty
        }
      })(Encoders.product[SessionSummary], Encoders.product[SessionSummary])
  }
}
