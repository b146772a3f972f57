package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Exact.{absorb, toD}

/**
 * Event-sequence operators: batch sessionization and as-of joins —
 * the batch twins of [[graft.streaming.EventStreams]], and the
 * time-series operators a training-data/event pipeline needs that the
 * reference's pandas stage could only do with per-group Python loops.
 */
object Events {

  /**
   * Gap-based sessionization: a new session starts when the gap to the
   * previous event of the same `user` exceeds `gapUs` microseconds.
   * Returns per-event rows with a dense per-user `session_idx`.
   *
   * One shuffle (by `user`); both windows share that partitioning, so
   * Catalyst plans a single exchange + sort. No state, no driver loops —
   * this is the batch twin of `EventStreams.sessionize`.
   *
   * `tieBreak` makes the window ordering total when timestamps can
   * repeat within a user (session_idx values are gap-derived and thus
   * already value-deterministic, but per-row ordering among tied
   * timestamps is partition-order dependent without it).
   */
  def sessionize(df: DataFrame, user: String, ts: String, gapUs: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(user).orderBy(col(ts) +: tieBreak.map(col): _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col(ts)) - lag(unix_micros(col(ts)), 1).over(w)
    df.withColumn("__graft_new", when(gap > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__graft_new")).over(run))
      .drop("__graft_new")
  }

  /**
   * Session path strings: per session, the first `n` event states in
   * time order joined with `>` — the clickstream navigation-analysis
   * staple ("view>click>purchase"). Composes [[sessionize]] with an
   * ORDER-PRESERVING bounded concat: events collect as
   * (ts, tieBreak, state) structs, `array_sort` orders them by the
   * total (ts, tieBreak) prefix — struct comparison is field-order
   * lexicographic — and only then are states sliced and joined, so the
   * path is partition-layout independent. Bounded by `n` only AFTER
   * the collect: sessions are gap-bounded and human-scale, the
   * documented bounded-member-set condition (q119's caveat).
   *
   * One shuffle total: the sessionize window and the session groupBy
   * hash the same `user` prefix.
   */
  def sessionPaths(
      df: DataFrame, user: String, ts: String, gapUs: Long,
      state: String, n: Int, tieBreak: Seq[String]): DataFrame = {
    require(n >= 1, "sessionPaths needs n >= 1")
    val ordered = array_sort(collect_list(struct(
      col(ts) +: tieBreak.map(col) :+ col(state): _*)))
    sessionize(df, user, ts, gapUs, tieBreak)
      .groupBy(col(user), col("session_idx"))
      .agg(
        // slice BEFORE transform: only the first n structs have their
        // state extracted, and the sorted array feeds one higher-order
        // function instead of two nested ones
        array_join(transform(slice(ordered, 1, n), x => x.getField(state)), ">")
          .as("path"),
        count(lit(1)).as("n_events"),
        min(col(ts)).as("start_ts"))
  }

  /** Session summaries: one row per (user, session). */
  def sessionSummaries(df: DataFrame, user: String, ts: String, gapUs: Long,
      tieBreak: Seq[String] = Nil): DataFrame =
    sessionize(df, user, ts, gapUs, tieBreak)
      .groupBy(col(user), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(ts)).as("start_ts"),
        max(col(ts)).as("end_ts"))

  /**
   * As-of join: for each left row, attach `valueCols` from the latest
   * right row with the same `keys` and right.ts <= left.ts (DuckDB/kdb
   * ASOF semantics, inclusive).
   *
   * Spark-first shape: instead of a range join (O(n·m) without a
   * specialized operator), both sides are unioned, tagged, and swept by
   * one window partitioned on `keys` — a single shuffle of left+right,
   * then `last(..., ignoreNulls)` carries the most recent right values
   * forward. At equal timestamps the right row sorts first (tag order),
   * giving the inclusive `<=` match.
   *
   * `rightTieBreak` (right-side columns) makes the sweep ordering total
   * when several right rows share (keys, ts): the row with the GREATEST
   * tie-break tuple wins. Without it, which tied right row is attached
   * is partition-order dependent. Left-left ties are harmless — tied
   * left rows see the same set of preceding right rows either way.
   */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      valueCols: Seq[(String, String)],
      rightTieBreak: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    val tbNames = rightTieBreak.indices.map(i => s"__graft_tb_$i")
    // All right-side values travel in ONE struct, so the window's
    // last(ignoreNulls) picks the whole latest right row atomically —
    // carrying columns independently could stitch fields from different
    // right rows whenever the true latest match holds a null.
    val l = left
      .withColumn("__graft_ts", col(leftTs))
      .withColumn("__graft_tag", lit(1))
      .withColumn("__graft_vals",
        lit(null).cast(org.apache.spark.sql.types.StructType(
          valueCols.map { case (from, to) =>
            org.apache.spark.sql.types.StructField(to,
              right.schema(from).dataType)
          })))
      .withColumns(rightTieBreak.zip(tbNames).map { case (from, tb) =>
        tb -> lit(null).cast(right.schema(from).dataType)
      }.toMap)
    val r0 = right.select(
        (keys.map(col) :+ col(rightTs).as("__graft_ts")) ++
          rightTieBreak.zip(tbNames).map { case (from, tb) => col(from).as(tb) } :+
          struct(valueCols.map { case (from, to) => col(from).as(to) }: _*)
            .as("__graft_vals"): _*)
      .withColumn("__graft_tag", lit(0))
    val unioned = l.select(
        (keys.map(col) :+ col("__graft_ts") :+ col("__graft_tag") :+ col("__graft_vals")) ++
          tbNames.map(col) ++
          leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(r0
        .withColumns(leftCols.filterNot(keys.contains).map(c => c -> lit(null)).toMap))
    // Tied right rows order by the tie-break ASC, so last() keeps the
    // greatest; left rows carry null tie-breaks but sort after every tied
    // right row via the tag column regardless (nulls-first is irrelevant).
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__graft_ts") +: col("__graft_tag") +: tbNames.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__graft_hit", last(col("__graft_vals"), ignoreNulls = true).over(w))
      .filter(col("__graft_tag") === 1)
      .select(leftCols.map(col) ++
        valueCols.map { case (_, to) => col(s"__graft_hit.$to").as(to) }: _*)
  }

  /**
   * Interval (range) join WITHOUT an equi-key: pairs every left row
   * whose `leftTs` lies in a right-side `[startCol, endCol]` interval
   * (inclusive both ends). Spark plans the naive form as
   * BroadcastNestedLoopJoin — a cartesian at scale. Scale shape: time
   * is quantized into `binWidthSec` bins; each right interval explodes
   * into the bins it covers, a left row has exactly ONE bin, and the
   * join becomes an equi-join on bin plus the exact containment filter.
   * A (left, right) pair can only meet in the left row's bin, so no
   * dedup shuffle is needed. Work per bin is bounded by interval
   * density — never |left|·|right|. Size `binWidthSec` near the median
   * interval length: much smaller multiplies the right-side explode,
   * much larger packs unrelated rows into shared bins.
   */
  def rangeJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, startCol: String, endCol: String,
      binWidthSec: Long): DataFrame = {
    val w = lit(binWidthSec)
    // via unix_seconds: TIMESTAMP_NTZ won't cast to BIGINT directly
    // (session tz is UTC, so the NTZ->TS cast is stable)
    def epoch(c: Column) = unix_seconds(c.cast("timestamp"))
    val l = left.withColumn("__graft_bin", floor(epoch(col(leftTs)) / w))
    val r = right.withColumn("__graft_bin",
      explode(sequence(floor(epoch(col(startCol)) / w),
        floor(epoch(col(endCol)) / w))))
    l.join(r, Seq("__graft_bin"))
      .filter(col(leftTs) >= col(startCol) && col(leftTs) <= col(endCol))
      .drop("__graft_bin")
  }

  /**
   * Per-key successive difference: value minus the previous row's value
   * under a TOTAL per-key ordering (first row of each key gets NULL —
   * there is nothing to difference against, and 0 would fake a flat
   * step). One window shuffle by key; the subtraction is a single IEEE
   * op, engine-identical.
   */
  def withDelta(
      df: DataFrame, keys: Seq[String], order: Seq[Column],
      valueCol: String, out: String = "delta"): DataFrame =
    df.withColumn(out, col(valueCol) - lag(col(valueCol), 1).over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))

  /**
   * Period-over-period relative change: `v / v_prev − 1` under a total
   * per-key ordering (pandas `pct_change`, distributed). First row per
   * key is NULL (nothing to compare), and so is a zero baseline:
   * Spark 4's ANSI mode raises on division by zero even for doubles,
   * and "change relative to nothing" has no meaningful magnitude
   * anyway — NULL beats a fake ±Infinity. The guard short-circuits, so
   * the division never evaluates on zero rows.
   *
   * `keys` must be non-empty: an unkeyed ordered window funnels the
   * whole frame through one partition (the q51 caveat). For a single
   * global series, aggregate to period grain first and tag it with a
   * literal key.
   */
  /**
   * CUSUM changepoint scores (Page 1954): per key, the one-sided
   * cumulative sums `pos = prefix − min(prefix so far)` and `neg =
   * max(prefix so far) − prefix` of the deviation from a target level —
   * the sequential drift detector that fires on small persistent shifts
   * long before a per-point outlier test ([[graft.operators.Relational]]
   * rollingAnomalies) or a distribution snapshot (ksStatistic) notices.
   * The recursive textbook form S_i = max(0, S_{i-1} + dev_i) equals
   * the prefix-minus-running-min closed form, which IS window-
   * expressible. Deviation, prefix and the running extrema all stay in
   * EXACT decimal (a double cumsum is engine/frame-order dependent —
   * DuckDB segment tree vs Spark running accumulator); only the output
   * casts to double. Three windows share one partitioning + sort. The
   * ordering must be total per key (aggregate to unique time buckets
   * first, as q159 does).
   */
  def cusumScores(
      df: DataFrame, keys: Seq[String], order: Seq[Column],
      valueCol: Column, targetCol: Column, scale: Int = 4): DataFrame = {
    require(keys.nonEmpty,
      "cusumScores needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = valueCol.cast(s"decimal(18,$scale)") -
      targetCol.cast(s"decimal(18,$scale)")
    df.withColumn("__gdev", dev)
      .withColumn("__gpre", sum(col("__gdev")).over(w))
      .withColumn("dev", col("__gdev").cast("double"))
      // the recursion starts at S_0 = 0, so the running extrema include
      // the EMPTY prefix: clamp with least/greatest against zero
      .withColumn("cusum_pos",
        (col("__gpre") - least(min(col("__gpre")).over(w), lit(0)))
          .cast("double"))
      .withColumn("cusum_neg",
        (greatest(max(col("__gpre")).over(w), lit(0)) - col("__gpre"))
          .cast("double"))
      .drop("__gdev", "__gpre")
  }

  def pctChange(
      df: DataFrame, keys: Seq[String], order: Seq[Column],
      valueCol: String, out: String = "pct_change"): DataFrame = {
    require(keys.nonEmpty,
      "pctChange needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val prev = lag(col(valueCol), 1).over(w)
    df.withColumn(out, when(prev =!= 0, col(valueCol) / prev - 1))
  }

  /**
   * Day-of-week seasonality profile: per (keys, dow) event counts and
   * the seasonality index `n·7 / total` (1.0 = flat, 2.0 = twice the
   * uniform share) — the notebook's per-group hour-distribution
   * analysis at weekly grain. `dow` is 0 = Sunday .. 6 = Saturday
   * (DuckDB's `dayofweek` convention; Spark's `dayofweek` is 1-based,
   * shifted here).
   *
   * One count groupBy (map-side combined to ≤ 7·|groups| partials per
   * task); the per-key totals come from a window over the tiny counts
   * frame, sharing its partitioning — the raw events are scanned once
   * and never shuffled un-aggregated.
   */
  def dowSeasonality(df: DataFrame, keys: Seq[String], ts: String): DataFrame = {
    val keyCols = keys.map(col)
    val counts = df
      .groupBy(keyCols :+ (dayofweek(col(ts)) - 1).as("dow"): _*)
      .agg(count(lit(1)).as("n"))
    // empty keys is safe HERE (unlike pctChange/lagFeatures): the window
    // runs over the already-aggregated counts frame, which an unkeyed
    // call bounds at 7 rows total — not a single-partition funnel
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keyCols: _*)
    counts
      .withColumn("idx",
        col("n").cast("double") * lit(7.0) / sum("n").over(base).cast("double"))
  }

  /**
   * Time-weighted average (TWAP): Σ vᵢ·Δtᵢ / Σ Δtᵢ per key, where Δtᵢ
   * is the µs interval each value was "in effect" (until the next
   * observation; the last observation has no duration and drops out) —
   * the irregular-sampling mean a plain `avg` gets wrong (it
   * over-weights bursts of closely-spaced readings).
   *
   * Exactness: values cast to fixed-scale decimal, intervals are exact
   * µs longs, so every product and both sums are exact decimals —
   * order-independent — and the single final division is one IEEE op.
   * One window shuffle (the `lead`) + the groupBy share the `keys`
   * hash partitioning. `order` must be total (tie-break).
   */
  def timeWeightedAvg(
      df: DataFrame, keys: Seq[String], tsCol: String,
      tieBreak: Seq[String], valueCol: String, scale: Int = 2,
      out: String = "twap"): DataFrame = {
    require(keys.nonEmpty,
      "timeWeightedAvg needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: tieBreak.map(col): _*)
    val us = unix_micros(col(tsCol))
    val dt = (lead(us, 1).over(w) - us).cast("decimal(14,0)")
    val v = col(valueCol).cast(s"decimal(18,$scale)")
    df.withColumn("__gwv", v * dt).withColumn("__gdt", dt)
      .filter(col("__gdt").isNotNull && col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg((sum(col("__gwv")).cast("double") /
        sum(col("__gdt")).cast("double")).as(out),
        count(lit(1)).as("n_intervals"))
  }

  /**
   * Rolling distinct-entity count (the DAU→WAU family): for each day in
   * the data's span, how many distinct entities were active in the
   * trailing `windowDays` window. Distinct-count-over-window has no
   * mergeable state, so the shape is contribute-then-count: activity
   * collapses to distinct (entity, day) rows FIRST, each contributes to
   * the `windowDays` report days it is visible from (a per-row
   * `sequence` explode — ×windowDays fan-out of the already-collapsed
   * frame, not of raw events), and one count-distinct groupBy per
   * report day finishes. Report days clamp to the observed span (the
   * max-day bound is one broadcast scalar row, q04's pattern).
   */
  def rollingDistinct(
      df: DataFrame, entity: String, tsCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, "rollingDistinct needs windowDays >= 1")
    val days = df.select(col(entity).as("__ge"),
      to_date(col(tsCol)).as("__gd")).na.drop().distinct()
    val span = days.agg(max(col("__gd")).as("__gmaxd"))
    days
      .select(col("__ge"), explode(sequence(col("__gd"),
        date_add(col("__gd"), windowDays - 1),
        expr("interval 1 day"))).as("day"))
      .crossJoin(broadcast(span))
      .filter(col("day") <= col("__gmaxd"))
      .groupBy(col("day"))
      .agg(countDistinct(col("__ge")).as("n_active"))
  }

  /**
   * Last-touch attribution: each conversion event is credited to the
   * most recent PRIOR non-conversion state of the same entity (the
   * marketing-analytics staple; first-touch is the mirror with
   * `first`). One window per entity over a strictly-before frame —
   * `last(..., ignoreNulls)` skips the conversion events themselves, so
   * back-to-back purchases attribute through to the same source; a
   * conversion with no prior touch attributes NULL (organic). The
   * ordering must be total (tie-break) or frame membership is
   * layout-dependent.
   */
  def lastTouchAttribution(
      df: DataFrame, entity: String, ts: String, tieBreak: Seq[String],
      stateCol: String, isConversion: Column,
      out: String = "attributed_source"): DataFrame = {
    val w = Window.partitionBy(col(entity))
      .orderBy(col(ts) +: tieBreak.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn(out,
        last(when(!isConversion, col(stateCol)), ignoreNulls = true).over(w))
      .filter(isConversion)
  }

  /**
   * Cumulative-distinct growth curve: per day, how many entities were
   * seen for the FIRST time (n_new) and how many distinct entities have
   * been seen up to and including that day (n_total) — the "total
   * unique users over time" chart. Distinct-so-far has no mergeable
   * per-day state, but first-seen does: each entity collapses to ONE
   * (entity → min day) row, days aggregate new-entity counts, and the
   * running total is a window over the ≤ span-days frame — bounded, so
   * its single partition is safe (dowSeasonality's argument). Raw
   * events shuffle once (the entity groupBy).
   */
  def cumulativeDistinct(
      df: DataFrame, entity: String, tsCol: String): DataFrame = {
    val firstSeen = df.select(col(entity).as("__ge"),
        to_date(col(tsCol)).as("__gd")).na.drop()
      .groupBy(col("__ge")).agg(min(col("__gd")).as("day"))
    firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      .withColumn("n_total", sum(col("n_new")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  /**
   * A/B conversion summary with Wilson score intervals: per variant,
   * distinct trial entities, converted entities, the exact-ratio
   * conversion rate, and the Wilson 95% bounds — the
   * experiment-readout that a plain ±z·√(p(1−p)/n) Wald interval gets
   * wrong near 0/1 or at small n. One aggregation over (variant,
   * entity) distinct pairs; every output is either exact-integer or
   * one fixed IEEE sequence from exact integers (z embedded as one
   * double literal; `sqrt` is correctly rounded everywhere, unlike
   * `pow`/`ln`).
   */
  def abConversion(
      df: DataFrame, variantCol: Column, entity: String,
      isConversion: Column, z: Double = 1.96): DataFrame = {
    val agg = df
      .groupBy(variantCol.as("variant"))
      .agg(countDistinct(col(entity)).as("trials"),
        countDistinct(when(isConversion, col(entity))).as("conversions"))
    val n = col("trials").cast("double")
    val p = col("conversions").cast("double") / n
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    agg
      .withColumn("rate", p)
      .withColumn("wilson_low", (center - margin) / denom)
      .withColumn("wilson_high", (center + margin) / denom)
  }

  /**
   * Cohort retention: bucket each user by first-activity day, then
   * count distinct users active at each day offset from their cohort —
   * the standard retention triangle. Scale shape: activity first
   * collapses to distinct (user, day) rows; the cohort frame is ONE
   * ROW PER USER — it grows with the user dimension, so it carries NO
   * broadcast hint (the q120/q232 rule: a hint is honored regardless
   * of size and would OOM executors once users outgrow the broadcast
   * budget; unhinted, AQE broadcasts while it fits and shuffle-joins
   * on the user key — which the distinct already partitioned — once
   * it does not). The final aggregate is a two-column groupBy on the
   * already-collapsed rows.
   */
  def cohortRetention(df: DataFrame, user: String, ts: String): DataFrame = {
    val active = df
      .select(col(user), to_date(col(ts)).as("__gday")).distinct()
    val cohorts = active.groupBy(col(user)).agg(min("__gday").as("cohort"))
    active.join(cohorts, user)
      .groupBy(col("cohort"), datediff(col("__gday"), col("cohort")).cast("long").as("day_offset"))
      .agg(count_distinct(col(user)).as("n_users"))
  }

  /**
   * Daily gap-fill + forward-fill: densify a per-key daily series to a
   * complete calendar between each key's first and last observed day,
   * zero-filling the count and carrying the last observed aggregate
   * forward across the gap (the standard resample step before any
   * time-series feature extraction; pandas `resample`/`ffill` done
   * distributed).
   *
   * `aggs` are the per-(key, day) aggregates; the one named by
   * `ffillCol` is forward-filled, the one named by `zeroCol` is
   * zero-filled. Scale shape: the raw table aggregates down to
   * (key, day) rows first — the calendar explode and the forward-fill
   * window run on the aggregated series, at most (days-in-span) rows
   * per key, all hash-partitioned by key; the raw events never join
   * the calendar.
   */
  def gapFillDaily(
      df: DataFrame, keys: Seq[String], ts: String,
      aggs: Seq[Column], zeroCol: String, ffillCol: String): DataFrame = {
    val keyCols = keys.map(col)
    val daily = df
      .withColumn("__gday", to_date(col(ts)))
      .groupBy(keyCols :+ col("__gday"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val cal = daily.groupBy(keyCols: _*)
      .agg(min("__gday").as("__gmn"), max("__gday").as("__gmx"))
      .select(keyCols :+ explode(sequence(col("__gmn"), col("__gmx"),
        expr("interval 1 day"))).as("__gday"): _*)
    val filled = cal.join(daily, keys :+ "__gday", "left")
      .withColumn(zeroCol, coalesce(col(zeroCol), lit(0L)))
      .withColumn(ffillCol, last(col(ffillCol), ignoreNulls = true)
        .over(Window.partitionBy(keyCols: _*).orderBy(col("__gday"))))
    filled.withColumnRenamed("__gday", "day")
  }

  /**
   * Merge overlapping (or touching) `[start, end]` intervals per key —
   * the gaps-and-islands union (availability windows, fixed-duration
   * sessions, blackout calendars).
   *
   * One shuffle (by `keys`): a running max of `end` over the
   * start-ordered window detects island breaks (a row starts a new
   * island iff its start exceeds every earlier end), a running sum of
   * the break flags numbers the islands, and one aggregate per island
   * emits the merged interval. Both windows and the final groupBy share
   * the same hash partitioning, so Catalyst plans a single exchange.
   *
   * Island numbers are value-deterministic for any total order on
   * (start, end): ties in `start` cannot straddle an island break
   * (the running max is monotone), so no extra tie-break is needed for
   * the OUTPUT to be deterministic.
   */
  def mergeIntervals(df: DataFrame, keys: Seq[String],
      start: String, end: String): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col(start), col(end))
    val prevMax = max(col(end)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val break = when(prevMax.isNull || col(start) > prevMax, 1L).otherwise(0L)
    df.withColumn("__graft_island",
        sum(break).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keyCols :+ col("__graft_island"): _*)
      .agg(min(col(start)).as(start), max(col(end)).as(end),
        count(lit(1)).as("n_merged"))
      .drop("__graft_island")
  }

  /**
   * Ordered-step funnel: for each step, how many `user`s performed it
   * AFTER strictly completing every earlier step (classic
   * view → click → purchase conversion counting).
   *
   * Shape: step i's user frame joins step (i-1)'s reached-frame on
   * `user` and keeps the earliest qualifying timestamp; every groupBy
   * and join hashes on `user`, so the per-step frames reuse one
   * partitioning and each added step costs one aligned join + aggregate
   * over an ever-SHRINKING frame (funnels only narrow). The raw event
   * table is scanned once per step with only that step's predicate —
   * no per-user event-list collection, no cross-step window state.
   */
  def funnel(df: DataFrame, user: String, ts: String,
      steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val reached = steps.tail.scanLeft(
      df.filter(steps.head._2).groupBy(col(user)).agg(min(col(ts)).as("__graft_t"))) {
      case (prev, (_, cond)) =>
        df.filter(cond)
          .join(prev.select(col(user), col("__graft_t").as("__graft_prev")), user)
          .filter(col(ts) > col("__graft_prev"))
          .groupBy(col(user)).agg(min(col(ts)).as("__graft_t"))
    }
    steps.zip(reached).zipWithIndex.map { case (((name, _), frame), i) =>
      frame.groupBy().agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("int").as("step"), lit(name).as("step_name"),
          col("n_users"))
    }.reduce(_ union _)
  }

  /**
   * Finite-window exponential smoothing (truncated EWMA): the classic
   * recursive `s_t = α·v_t + (1−α)·s_{t−1}` truncated to its `depth`
   * largest terms — `ewma = Σ_j w_j·v_{t−j} / Σ_j w_j` over the lags
   * present, `w_j = α(1−α)^j`. Truncation is what makes the smoothing
   * distributable AND portable: the infinite recursion needs sequential
   * per-key state, while the windowed form is one `lag` chain over a
   * single per-key window (Catalyst plans ONE exchange + sort; all
   * `depth` lags share it).
   *
   * Engine-exactness: with a dyadic `alpha` (0.5, 0.25, …) every weight
   * is a power of two, so each `w_j·v` multiply is exponent-shift-exact,
   * and the term additions associate left in BOTH this expression tree
   * and the mirrored SQL — same op sequence, same doubles, so results
   * hash-match any engine. Weights for missing lags (the first rows of
   * each key, null values) drop out of numerator AND denominator.
   *
   * The `order` must be total (tie-break column) or frame membership
   * itself is nondeterministic.
   */
  def ewmaSmoothed(
      df: DataFrame, keys: Seq[String], order: Seq[Column],
      valueCol: String, alpha: Double, depth: Int,
      out: String = "ewma"): DataFrame = {
    require(depth >= 1, "ewmaSmoothed needs depth >= 1")
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(keys.nonEmpty,
      "ewmaSmoothed needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val v = col(valueCol)
    def lagged(j: Int): Column = if (j == 0) v else lag(v, j).over(w)
    val weights = ewmaWeights(alpha, depth)
    val terms = weights.zipWithIndex.map { case (wt, j) =>
      when(lagged(j).isNotNull, lit(wt) * lagged(j)).otherwise(lit(0d)) }
    val norms = weights.zipWithIndex.map { case (wt, j) =>
      when(lagged(j).isNotNull, lit(wt)).otherwise(lit(0d)) }
    // a row whose value AND whole lag window are NULL zeroes every norm
    // term; guard the division (ANSI raises on 0/0) and return NULL —
    // rollingAnomalies' n > 0 guard, same reasoning
    val norm = norms.reduce(_ + _)
    df.withColumn(out, when(norm > 0, terms.reduce(_ + _) / norm))
  }

  /** The truncated-EWMA weight sequence `α(1−α)^j`, j = 0..depth−1 —
   *  exposed so SQL oracles embed the IDENTICAL literals. */
  def ewmaWeights(alpha: Double, depth: Int): Seq[Double] =
    (0 until depth).map(j => alpha * math.pow(1 - alpha, j))

  /**
   * State-transition (Markov bigram) matrix: per-entity consecutive
   * `state` pairs under a total `order`, counted globally with the
   * per-origin transition probability attached.
   *
   * Shape: one window shuffle (by `entity`) forms the bigrams with
   * `lead` — no self-join of the event table against itself on
   * adjacent sequence numbers; the count groupBy reduces to at most
   * |states|² rows, and the per-origin totals frame is tiny by the
   * same bound, so it broadcasts back. Probabilities are exact-integer
   * divisions — engine-identical.
   */
  def transitions(df: DataFrame, entity: String, order: Seq[Column],
      state: String): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(order: _*)
    val counts = df
      .select(col(state).as("from_state"), lead(col(state), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_state").agg(sum("n").as("__graft_tot"))
    counts.join(broadcast(totals), "from_state")
      .withColumn("p", col("n").cast("double") / col("__graft_tot").cast("double"))
      .drop("__graft_tot")
  }

  /**
   * Longest consecutive-day activity streak per user (plus total active
   * days) — the gaps-and-islands twin of [[mergeIntervals]] on a daily
   * grain.
   *
   * Shape: events collapse to distinct (user, day) first — the window
   * and both aggregates run on at most span-days rows per user, all
   * hash-partitioned by `user`. The island anchor is `day − row_number`:
   * constant exactly over a run of consecutive days.
   */
  def streaks(df: DataFrame, user: String, ts: String): DataFrame = {
    val days = df.select(col(user), to_date(col(ts)).as("__graft_day")).distinct()
    val rn = row_number().over(
      Window.partitionBy(col(user)).orderBy(col("__graft_day")))
    days
      .withColumn("__graft_anchor", date_sub(col("__graft_day"), rn))
      .groupBy(col(user), col("__graft_anchor"))
      .agg(count(lit(1)).as("__graft_run"))
      .groupBy(col(user))
      .agg(max(col("__graft_run")).as("best_streak"),
        sum(col("__graft_run")).as("n_active_days"))
  }

  /**
   * The full ACF table: the Pearson correlation of each key's series
   * with its own h-step lag, at every lag 1..`maxLag` in ONE pass — the
   * correlogram a seasonality hunt reads (a weekly cycle in daily data
   * spikes lag 7), where a pass per lag would re-sort the series
   * `maxLag` times. All lag columns ride one window (one sort, one
   * shuffle on the keys); the per-lag pair rows then stack via an
   * explode of a `maxLag`-element struct array (a bounded per-row
   * fan-out, the barrier that keeps the lag window evaluated once) and
   * aggregate by (keys, lag) into exact decimal moments
   * ([[graft.functions.Exact.Moments]], read back through `toD`) —
   * map-side combinable, keyed a superset of the window partitioning.
   * NULL pairs drop per lag independently (the ACF-with-gaps
   * convention); zero-variance sides → NULL.
   *
   * Magnitude bound (the q194/[[autocorr]] decimal route): values are
   * summed as `decimal(precision,4)` — the default 14 keeps products
   * within Spark's 38-precision multiply cap, matching the oracle's
   * int128 promotion, and bounds inputs to 10 integer digits
   * (|v| < 10^10). A wider value overflows the cast: under Spark 4's
   * default ANSI mode the query THROWS (`NUMERIC_VALUE_OUT_OF_RANGE`);
   * under non-ANSI it NULLs the moment sums on the Spark side only and
   * silently drops what the oracle keeps. Events `value` is bounded
   * far below that; pass `precision` up to 18 (|v| < 10^14 — the
   * product precision 2·18+1 = 37 still fits the 38 cap) for
   * larger-magnitude series; an oracle twin must promote its side
   * identically (e.g. (22,·)).
   */
  def acfMulti(
      df: DataFrame, keys: Seq[String], order: Seq[Column], valueCol: String,
      maxLag: Int, precision: Int = 14): DataFrame = {
    require(keys.nonEmpty,
      "acfMulti needs partition keys: an unkeyed window is a global single-partition funnel")
    require(maxLag >= 1, "acfMulti needs maxLag >= 1")
    require(precision >= 5 && precision <= 18,
      "acfMulti precision must be in [5, 18]: products of two (p,4) decimals need 2p+1 <= 38")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val lagged = df.select(
      keys.map(col) ++ Seq(col(valueCol).as("__gv")) ++
        (1 to maxLag).map(l => lag(col(valueCol), l).over(w).as(s"__gl$l")): _*)
    val stacked = lagged.select(
      keys.map(col) ++ Seq(col("__gv"), explode(array(
        (1 to maxLag).map(l =>
          struct(lit(l).as("lag"), col(s"__gl$l").as("prev"))): _*)).as("__gp")): _*)
      .select(keys.map(col) ++ Seq(col("__gv"),
        col("__gp.lag").as("lag"), col("__gp.prev").as("__gprev")): _*)
      .filter(col("__gv").isNotNull && col("__gprev").isNotNull)
    val dx = col("__gv").cast(s"decimal($precision,4)")
    val dy = col("__gprev").cast(s"decimal($precision,4)")
    val sums = Exact.Moments.sums(dx, dy).columns("n_pairs")
    val mm = Exact.Moments.named(col("n_pairs").cast("double"), toD)
    stacked.groupBy(keys.map(col) :+ col("lag"): _*).agg(sums.head, sums.tail: _*)
      .select(keys.map(col) ++ Seq(col("lag"), col("n_pairs"),
        when(mm.varX > 0 && mm.varY > 0, mm.corr).as("acf")): _*)
  }

  /**
   * Lag-1 autocorrelation per key: Pearson correlation of the series
   * with its previous value over a total per-key order — the
   * mean-reversion-vs-trending audit (ACF≈0: independent draws; high
   * ACF: sticky level, a drifting sensor or a burst-driven metric).
   * [[acfMulti]]'s lag-1 row without the `lag` column: rows whose value
   * or previous value is NULL drop from the pair frame, zero-variance
   * sides → NULL, and `precision` bounds the magnitudes the same way.
   */
  def autocorr(
      df: DataFrame, keys: Seq[String], order: Seq[Column], valueCol: String,
      precision: Int = 14): DataFrame =
    acfMulti(df, keys, order, valueCol, maxLag = 1, precision).drop("lag")

  /**
   * Offline changepoint localization per key (the batch argmax the
   * streaming CUSUM alarm can't give you): the row where the cumulative
   * sum deviates most from the value-uniform line — argmax_i of
   * D_i = |n·S_i − i·S_n|, the max-distance form of the CUSUM statistic.
   * "WHERE did the mean shift" after a drift alarm said THAT it did.
   *
   * Exactness: S_i/S_n accumulate in DECIMAL(14,4) units so every D_i
   * is an exact decimal — the argmax is decided by exact comparisons,
   * never float noise — and ties break on the earlier index. The output
   * score divides D_max once by n² (mean-scaled distance), the single
   * IEEE step. Ordering must be total per key: pass tie-break columns.
   *
   * Shape: one per-key prefix window over (order) + one rank window
   * over the same partitioning — two analytic passes on the SAME
   * shuffle key; bounds: n·|Σv|·10⁴ must stay inside DECIMAL(38,4)
   * (10¹² rows of |v| ≤ 10²⁰⁻¹² — plenty for event-scale values).
   */
  def changepoint(
      df: DataFrame, keys: Seq[String], order: Seq[Column], valueCol: String,
      outIndex: String = "cp_index"): DataFrame = {
    require(keys.nonEmpty,
      "changepoint needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val v = col(valueCol).cast("decimal(14,4)")
    val prefixed = df
      .withColumn("__gi", row_number().over(w))
      .withColumn("__gsi", sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .withColumn("__gs", sum(v).over(Window.partitionBy(keys.map(col): _*)))
    val scored = prefixed.withColumn("__gd",
      abs(col("__gn").cast("decimal(12,0)") * col("__gsi") -
        col("__gi").cast("decimal(12,0)") * col("__gs")))
    val ranked = scored.withColumn("__gr", row_number().over(
      Window.partitionBy(keys.map(col): _*)
        .orderBy(col("__gd").desc, col("__gi").asc)))
    ranked.filter(col("__gr") === 1)
      .select(keys.map(col) ++ Seq(
        col("__gn").as("n"),
        col("__gi").as(outIndex),
        (toD(col("__gd")) /
          (col("__gn").cast("double") * col("__gn").cast("double"))).as("score")): _*)
  }

  /**
   * Per-key OLS trend: slope and intercept of `valueCol` against the
   * key-centered x axis (x − min_key(x)) via exact decimal moments —
   * the drift DIRECTION and RATE a monitoring table wants next to the
   * q159/[[changepoint]] where/when answers. Centering per key keeps
   * the x moments inside the decimal multiply cap (x spans the key's
   * range, not the epoch) and leaves the slope untouched; the intercept
   * is reported AT the key's first x (i.e. the fitted value there),
   * the natural anchor after centering.
   *
   * Two aggregations on the same key (min-x bounds frame broadcast
   * back — the [[Features]] bounds-scaffold shape), then closed-form
   * slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) and intercept =
   * (Σy − slope·Σx)/n in ONE fixed IEEE sequence over string-detoured
   * exact sums. Zero x-variance keys → NULL slope/intercept.
   */
  def trendOls(
      df: DataFrame, keys: Seq[String], xCol: Column, valueCol: String): DataFrame = {
    require(keys.nonEmpty,
      "trendOls needs partition keys: center/aggregate per key, never globally")
    val base = df.select(keys.map(col) :+ xCol.cast("long").as("__gx") :+
      col(valueCol).as("__gy"): _*)
      .filter(col("__gx").isNotNull && col("__gy").isNotNull)
    val bounds = base.groupBy(keys.map(col): _*).agg(min(col("__gx")).as("__gx0"))
    val centered = base.join(broadcast(bounds), keys)
      .withColumn("__gcx", (col("__gx") - col("__gx0")).cast("decimal(12,0)"))
    val dy = col("__gy").cast("decimal(14,4)")
    val sums = Exact.Moments.sums(col("__gcx"), dy).columns("n", withYY = false)
    val mm = Exact.Moments.named(col("n").cast("double"), toD)
    centered.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      .withColumn("slope", when(mm.varX > 0, mm.slope))
      .withColumn("intercept", when(mm.varX > 0, mm.intercept(col("slope"))))
      .select(keys.map(col) ++ Seq(col("n"), col("slope"), col("intercept")): _*)
  }

  /**
   * Kaplan-Meier survival table over per-subject (duration, event)
   * rows — the right-censoring-aware answer to "how long do users
   * stay?": a plain mean of observed lifetimes is biased low because
   * still-active users haven't finished their lifetime yet. At each
   * distinct duration t: n_risk (subjects with duration ≥ t), n_event
   * (uncensored exits at t), n_censored, and the product-limit
   * estimate S(t) = Π_{u≤t} (1 − d_u/n_u).
   *
   * Determinism: the grouped frame is ≤\|distinct durations\| rows
   * (bounded by the observation window in days — an AGGREGATED-frame
   * window, the q177 AUC precedent, not a fact-sized funnel); n_risk
   * is total − exact running exits; each factor's ln routes through
   * FLOAT (q70 libm contract) into a DECIMAL(28,18) running sum whose
   * order the window fixes, and ONE exp at the end rebuilds S(t) —
   * exp's input is engine-identical so its output is too. Events at
   * t enter hazard BEFORE censorings at the same t leave the risk set
   * (the standard KM tie convention).
   */
  def kmSurvival(
      subjects: DataFrame, durationCol: String, eventCol: String): DataFrame = {
    val byT = subjects
      .filter(col(durationCol).isNotNull)
      .groupBy(col(durationCol).cast("long").as("t"))
      .agg(count(when(col(eventCol), 1)).as("n_event"),
        count(when(!col(eventCol), 1)).as("n_censored"))
    val total = byT.agg(
      sum(col("n_event") + col("n_censored")).as("__gtot"))
    val ord = Window.orderBy(col("t"))
    val exited = coalesce(
      sum(col("n_event") + col("n_censored"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    // a step where EVERYONE at risk exits has factor 0: ln is −∞, so
    // flag it and pin S(t)=0 from there on instead of feeding the sum
    val lnFactor = when(col("n_event") < col("n_risk"),
      absorb(log(lit(1.0d) -
        col("n_event").cast("double") / col("n_risk").cast("double"))))
    val hitZero = max(when(col("n_event") === col("n_risk"), 1).otherwise(0))
      .over(ord)
    byT.crossJoin(broadcast(total))
      .withColumn("n_risk", col("__gtot") - exited)
      .withColumn("survival",
        when(hitZero === 1, lit(0.0d)).otherwise(
          coalesce(
            exp(toD(sum(lnFactor).over(ord))),
            lit(1.0d))))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        col("survival"))
  }

  /**
   * Step-to-step conversion latency: for every subject whose first
   * `fromStep` event precedes a later `toStep` event, the gap between
   * the first `fromStep` and the first `toStep` AFTER it — then the
   * count and exact latency percentiles over the converted
   * population. The "how long does view→purchase take" answer next
   * to [[funnel]]'s how-many.
   *
   * Determinism: timestamps are exact epoch-µs longs; the gap is an
   * exact integer; `percentile` interpolation is bit-equal to
   * DuckDB's `quantile_cont` (the q40 contract).
   *
   * Scale: ONE event scan and ONE subject-keyed exchange. Both step
   * predicates are evaluated in the same projection over the
   * step-filtered rows; the first-from timestamp is a partition-wide
   * window min on the subject key, and the converted-gap aggregation
   * reuses that exact partitioning (no second exchange, no join). The
   * earlier two-scan shape (first-from aggregate joined back onto the
   * to-rows) re-read the event source per step and paid a second
   * shuffle for the join — measured 11.5× for 10× data at sf10; the
   * superlinearity was the duplicated scan+shuffle, not the
   * percentile. The percentile still runs over the ≤\|subjects\| gap
   * frame, never raw events.
   */
  def stepLatency(
      df: DataFrame, subject: String, tsUsCol: String,
      fromPred: Column, toPred: Column,
      percentiles: Seq[Double]): DataFrame = {
    require(percentiles.nonEmpty, "stepLatency needs at least one percentile")
    val steps = df.filter(fromPred || toPred)
      .select(col(subject), col(tsUsCol),
        fromPred.as("__gisf"), toPred.as("__gist"))
    val w = Window.partitionBy(col(subject))
    val gaps = steps
      .withColumn("__gt0",
        min(when(col("__gisf"), col(tsUsCol))).over(w))
      .filter(col("__gist") && col(tsUsCol) > col("__gt0"))
      .groupBy(col(subject))
      .agg((min(col(tsUsCol)) - max(col("__gt0"))).as("__ggap"))
    // keyless exact percentiles via the range-partition sort-rank path
    // (Features.groupQuantiles): the per-subject gap frame is corpus-
    // sized, so a percentile hash map would gather it on one buffer
    Features.groupQuantiles(gaps, Nil, "__ggap",
      percentiles.map(p => p -> s"p${(p * 100).round}_us"),
      countAs = Some("n_converted"))
  }

  /**
   * Inter-arrival gap statistics per key: exact percentiles of the
   * µs gaps between CONSECUTIVE events in (ts, tiebreak) order — the
   * burstiness/health dial for an event stream (a p90 collapsing
   * toward p50 means traffic is smoothing; a p90 exploding means
   * batchy upstreams), beside [[autocorr]]'s value-correlation view.
   *
   * Exactness: gaps are exact long differences off ONE lag window;
   * `percentile` is bit-equal to DuckDB's `quantile_cont` (q40).
   * One shuffle: the lag window and the aggregation share the key
   * partitioning.
   */
  def interArrival(
      df: DataFrame, keys: Seq[String], tsUsCol: String, tieBreak: Seq[String],
      percentiles: Seq[Double]): DataFrame = {
    require(keys.nonEmpty,
      "interArrival needs partition keys: an unkeyed window is a global funnel")
    require(percentiles.nonEmpty, "interArrival needs at least one percentile")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsUsCol) +: tieBreak.map(col)): _*)
    val gaps = df
      .withColumn("__gprev", lag(col(tsUsCol), 1).over(w))
      .filter(col("__gprev").isNotNull)
      .withColumn("__ggap", col(tsUsCol) - col("__gprev"))
    // exact percentiles via the sort-rank path (Features.groupQuantiles):
    // gap cardinality is unbounded, so the percentile hash-map buffer
    // grows with traffic — the measured q134-class OOM shape
    Features.groupQuantiles(gaps, keys, "__ggap",
      percentiles.map(p => p -> s"p${(p * 100).round}_us"),
      countAs = Some("n_gaps"))
  }

  /**
   * Theil-Sen robust trend per key: the MEDIAN of all pairwise slopes
   * (y_j − y_i)/(x_j − x_i) over the key's series — the slope
   * estimator one wild month can't drag, next to [[trendOls]]'s
   * least-squares line (which a single outlier owns). Intended for
   * AGGREGATED per-key series (monthly rollups), where the pairwise
   * frame is bounded by the series length squared — tiny — never for
   * raw fact rows.
   *
   * Determinism: y differences subtract in exact decimal and widen to
   * double once (the q72 decimal→double pairing: Spark's correctly
   * rounded cast mirrors DuckDB's VARCHAR detour); x differences are
   * exact longs; each slope is ONE IEEE division; the median is the
   * bit-equal `percentile`/`quantile_cont` pair (q40).
   */
  def theilSen(
      df: DataFrame, keys: Seq[String], xCol: Column, valueCol: String,
      scale: Int = 4): DataFrame = {
    require(keys.nonEmpty,
      "theilSen needs partition keys: the pair frame must stay per-key bounded")
    val base = df.select(keys.map(col) :+ xCol.cast("long").as("__gx") :+
      col(valueCol).cast(s"decimal(22,$scale)").as("__gy"): _*)
      .filter(col("__gx").isNotNull && col("__gy").isNotNull)
    val a = base.select(keys.map(col) :+ col("__gx").as("__gxa") :+
      col("__gy").as("__gya"): _*)
    val b = base.select(keys.map(col) :+ col("__gx").as("__gxb") :+
      col("__gy").as("__gyb"): _*)
    val pairs = a.join(b, keys).filter(col("__gxa") < col("__gxb"))
      .select(keys.map(col) :+
        ((col("__gyb") - col("__gya")).cast("double") /
          (col("__gxb") - col("__gxa")).cast("double")).as("__gslope"): _*)
    // sort-rank median (Features.groupQuantiles): slope cardinality is
    // the pair count, so even "bounded" series would hand the hash-map
    // percentile a quadratic buffer per group
    Features.groupQuantiles(pairs, keys, "__gslope",
      Seq(0.5 -> "slope"), countAs = Some("n_pairs"))
  }
}
