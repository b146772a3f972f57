package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * Distributed per-key ranking over a value order — the scale path for
 * every rank/quantile/ntile operator whose window partitions by a
 * LOW-CARDINALITY key. A plain `Window.partitionBy(keys).orderBy(v)`
 * funnels each key's entire data into one task: with 3 return flags at
 * 100 TB that is 3 tasks sorting ~33 TB each. This primitive keeps the
 * exact same outputs with bounded per-task state:
 *
 *  1. PROBE (one scan, no data shuffle): approximate value boundaries
 *     (Greenwald-Khanna `percentile_approx`) + approximate key
 *     cardinality in a single aggregate, collected as bounded literals
 *     (the medians/k-means agg-to-literal convention).
 *  2. BUCKET: each row gets a range-bucket id from a binary-search CASE
 *     over the boundary literals — monotone in the value order, so a
 *     (key, bucket) cell is a contiguous slice of the key's order and
 *     VALUE TIES NEVER STRADDLE CELLS (the bucket is a function of the
 *     value alone). Boundary placement is approximate and may vary
 *     run-to-run; outputs never depend on it, only cell sizes do.
 *  3. LOCAL WINDOW: row_number / peer aggregates / cumulative sums per
 *     (key, bucket) cell — parallelism ≈ cells, per-task state ≈ one
 *     cell.
 *  4. OFFSETS: per-cell counts/sums aggregate to ≤ |keys|·(buckets+2)
 *     rows (bounded by construction: bucket count is chosen from the
 *     probed key cardinality so cells ≈ 4·shuffle-partitions), get
 *     exclusive running offsets per key over that TINY frame, and
 *     broadcast-join back: global rank = cell offset + local rank.
 *
 * Path selection: inputs whose Catalyst size estimate is below
 * `graft.rank.rangeBytes` (default 256 MiB) keep the single-window
 * plan — below that a second scan costs more than the funnel; at
 * 100 TB everything takes the bucketed path. When the probed key
 * cardinality already exceeds the wanted parallelism the bucket count
 * collapses to 1 and the window path is kept too (a high-cardinality
 * window is already parallel). `SPARK_GRAFT_RANK_RANGE_BYTES` /
 * conf `graft.rank.rangeBytes` override for tests and A/B runs.
 *
 * Determinism contract: `__grn` (the global per-key row number) is
 * deterministic when (value, tieBreak) is total per key; under ties it
 * is one valid tie order, and every consumer reads it only through
 * tie-invariant forms (value-at-rank, min/max over the peer group,
 * peer-inclusive range sums) — the same contract the window path's
 * `row_number` has today.
 */
object RangeRank {

  /** Per-key running/total aggregates to carry through the rank pass:
   *  `rangeSums` are PEER-INCLUSIVE cumulative sums in value order
   *  (order-independent under ties — a RANGE frame, not ROWS);
   *  `keyTotals` are plain per-key totals. */
  final case class Extras(
      rangeSums: Seq[(Column, String)] = Nil,
      keyTotals: Seq[(Column, String)] = Nil,
      peerMinAs: Option[String] = None,
      peerMaxAs: Option[String] = None,
      denseAs: Option[String] = None)

  // Cap on the probe's boundary count. The bMax formula below only
  // reaches it at 128 shuffle partitions (128 × 8 = 1024).
  private val MaxBuckets = 1024

  /** Row estimate from the same Catalyst stats the byte gate reads:
   *  exact rowCount when the plan carries one, else a leaf-anchored
   *  recursion — the LARGEST child through joins, the SUM of children
   *  through unions. Leaves, not the top frame: without CBO a join's
   *  sizeInBytes estimate multiplies its children, so a tiny pair
   *  self-join (q236's theil-sen months) reads as millions of rows and
   *  would fire the gate on 60 actual rows — the largest scan is the
   *  only honest size through a join, and it bounds the volume the
   *  rank pass must at least chew. Union is the one combinator whose
   *  row counts ARE additive, so it sums: a 10-way union of
   *  sub-threshold narrow scans (each invisible to both clauses alone)
   *  still fires the gate on its true combined volume. Parquet leaves
   *  report COMPRESSED bytes, so this still under-counts true rows by
   *  the compression ratio — a conservative floor, never an
   *  over-fire. A checkpoint scan ([[graft.Caches.checkpoint]]) is a
   *  leaf that carries its exact row count. Also the row estimate
   *  behind [[Par.widthFor]] and the SSJoin-family row gate. */
  private[graft] def estLeafRows(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.getOrElse(estRowsOf(plan))
  }

  private def estRowsOf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Union}
    p match {
      case l: LeafNode =>
        l.stats.rowCount.getOrElse {
          val w = math.max(1, l.schema.map(_.dataType.defaultSize).sum)
          l.stats.sizeInBytes / w
        }
      case u: Union => u.children.map(estRowsOf).sum
      case _ if p.children.isEmpty => BigInt(0)
      case _ => p.children.map(estRowsOf).max
    }
  }

  /** The shared path gate: consumers keep their exact single-window
   *  plan below the threshold (cheapest at bench scale) and switch to
   *  the bucketed formulation above it. Catalyst's size estimate is
   *  coarse but monotone in the scan size, which is all the byte cut
   *  needs — EXCEPT on narrow projections of compressed columnar data,
   *  where bytes under-measure the thing a window sort actually pays
   *  for: rows. q96's single-double-column projection of sf10 lineitem
   *  estimated 147 MB (dictionary-compressed scan × pruned width) for
   *  60 M rows and sailed under the 256 MiB gate into a single-partition
   *  window sort (207 s; the bucketed plan is ~35x cheaper). The rows
   *  clause catches exactly that shape: estimated rows ≥ 2 M fires the
   *  bucketed path regardless of how small the bytes look. Additive
   *  only — every frame the byte clause fired for still fires.
   *
   *  Measured same-session at sf10 (rows clause OFF vs ON, lock-guarded
   *  min-of-two): keyless consumers win decisively (q96 85→4.2 s,
   *  q169 40→8.9 s); keyed consumers are a wash — the |keys|-parallel
   *  window and the bucketed machinery trade ±20% both ways (q145
   *  −18%, q166 −10%, q154/q79 +6%, q117 0%) — so the clause stays
   *  BLANKET: neutral at one-box scale, and the bucketed plan is the
   *  only one whose per-task state stays bounded on a real cluster.
   *  The one real keyed loss (q134 +24%) was the value-aggregation
   *  above, not the rank path — fixed by [[tieRank]]'s shrink probe,
   *  not by suppressing the gate. */
  def useBucketed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Gates.read(Gates.RankRangeBytes, df.sparkSession)) ||
      manyLeafRows(df)

  /** The rows clause alone: does the honest (leaf-scan) row estimate
   *  say this frame is genuinely large? Consumers that pay a REAL cost
   *  to prepare for scale (a persist, a probe pass) key on this, not on
   *  [[useBucketed]]: the byte clause inflates multiplicatively through
   *  joins (a 60-row pair self-join estimates gigabytes), which is a
   *  harmless false-fire for choosing a plan SHAPE on a tiny frame but
   *  a real regression if it triggers materialization work. */
  private[operators] def manyLeafRows(df: DataFrame): Boolean =
    estLeafRows(df) >= BigInt(Gates.read(Gates.RankRangeRows, df.sparkSession))

  /** Is this frame just (Project|Filter)* over one scan? Replaying it
   *  costs one columnar read — cheaper than writing it to cache — so
   *  the persist-before-probe guard of [[tieRank]] skips it. Anything
   *  with a join/aggregate/window upstream replays the whole pipeline
   *  per consumption and must be materialized instead. */
  private def scanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
    def walk(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case pr: Project => walk(pr.child)
      case f: Filter => walk(f.child)
      case _ => false
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** The plan a tie-invariant rank consumer runs ([[tieRank]]). */
  sealed trait TieRegime
  object TieRegime {
    /** Below [[useBucketed]]: the caller's own single window. */
    case object Window extends TieRegime
    /** Genuinely large and near-unique: [[ranked]] on the input rows. */
    case object Direct extends TieRegime
    /** Rank the distinct (keys, value) frame ([[TieRank.counted]]). */
    case object Aggregated extends TieRegime
  }

  /** One decided tie-invariant rank plan over (`keys`, `value`) of
   *  `input` — the frame every branch must read (persisted when
   *  [[tieRank]] chose to). `distinctBound` bounds the distinct
   *  (keys, value) rows and sizes the map-back. */
  final case class TieRank(
      input: DataFrame, keys: Seq[String], value: String,
      regime: TieRegime, distinctBound: BigInt) {

    /** The distinct-value rank: one row per (keys, value) with its row
     *  count as `__qc`, ranked by value within keys through [[ranked]]
     *  (a plain window while small, bucketed cells once the value
     *  cardinality itself is web-scale). `extras` read `col("__qc")`:
     *  its peer-inclusive range sum is the cumulative row count through
     *  the value, its key total the key's row count, and the row number
     *  `__grn` over this frame IS dense_rank. */
    def counted(extras: Extras): DataFrame = {
      val gk = (keys :+ value).map(col)
      ranked(input.groupBy(gk: _*).agg(count(lit(1)).as("__qc")), keys, value, extras = extras)
    }

    /** Join `vals` — one row per (keys, value) plus the caller's rank
     *  columns — back onto the input rows, NULL-SAFE on (keys, value):
     *  a null key or value groups as its own peer set and must rejoin
     *  its own rank row. The value frame broadcasts while
     *  `distinctBound` × its schema's default row width fits
     *  [[Gates.RankBroadcastBytes]] — a row bar alone would let a
     *  near-bar bound broadcast a wide multi-key frame of hundreds of
     *  MB — and hash-builds above it, so the fact side never sorts.
     *  Output: the input's columns, then `vals`' non-key columns. */
    def mapBack(vals: DataFrame): DataFrame = {
      val gk = keys :+ value
      val rowBytes = math.max(1L, vals.schema.fields.map(_.dataType.defaultSize.toLong).sum)
      val fits = distinctBound * rowBytes <=
        BigInt(Gates.read(Gates.RankBroadcastBytes, input.sparkSession))
      val renamed = gk.foldLeft(vals)((v, c) => v.withColumnRenamed(c, s"__qk_$c"))
      val rhs = if (fits) broadcast(renamed) else renamed.hint("shuffle_hash")
      input.join(rhs, gk.map(c => col(c) <=> col(s"__qk_$c")).reduce(_ && _))
        .drop(gk.map(c => s"__qk_$c"): _*)
    }
  }

  /**
   * THE entry for tie-invariant rank consumers — outputs that are a
   * pure function of (keys, value) multiplicities, never of the order
   * among ties: quantile values, percent_rank, rank / dense_rank /
   * cume_dist (NOT row_number or ntile). Such a consumer may rank the
   * distinct (keys, value) frame instead of the fact rows (the
   * q145/q150/q166 value-aggregation rule: sf10 prices shrink 101×,
   * 60 M rows → 594 k) and map the ranks back; this decides whether
   * that pays, once for every consumer:
   *
   *  - below [[useBucketed]]: [[TieRegime.Window]] — nothing persists
   *    or probes, and the caller runs its plain window;
   *  - above it but not [[manyLeafRows]]: [[TieRegime.Aggregated]]
   *    with no persist and no probe. The byte clause false-fires on
   *    join-derived frames whose size estimate multiplied through the
   *    join (q236's 60-row theil-sen pairs estimate gigabytes) —
   *    harmless for picking a plan SHAPE, a pure regression if it
   *    triggered materialization work on a tiny frame — so the honest
   *    leaf estimate ([[estLeafRows]]) bounds the aggregate;
   *  - above [[manyLeafRows]]: persist `df` (MEMORY_AND_DISK, under the
   *    caller-owned-cache contract of [[graft.Caches]]) unless it is
   *    [[scanShaped]] — the probe, the aggregate and the map-back each
   *    replay the upstream otherwise (q235's windowed funnel gaps:
   *    4.1 → 14.2 s at sf10 when the gate first fired on it) — then run
   *    ONE bounded `approx_count_distinct` probe over (keys, value):
   *    [[TieRegime.Aggregated]] iff rows / distinct ≥ 2, else
   *    [[TieRegime.Direct]]. On near-unique doubles the distinct frame
   *    is ~fact-sized and the aggregate plus map-back is pure overhead
   *    (q134 +24% at sf10), while [[ranked]]'s bucketed cells
   *    distribute the direct rank just as well. The distinct bound is
   *    the probe's HLL++ figure inflated by its ~4% error margin.
   *
   * Above [[manyLeafRows]], merely CONSTRUCTING the consumer's plan
   * runs the probe job, which also writes the persisted cache of a
   * fact-sized input — the agg-to-literal convention's price, so
   * `graft.Explain` on a big frame pays one cache-building pass first
   * (minutes at sf10), not a hang.
   */
  def tieRank(df: DataFrame, keys: Seq[String], value: String): TieRank = {
    if (!useBucketed(df)) return TieRank(df, keys, value, TieRegime.Window, 0)
    if (!manyLeafRows(df)) return TieRank(df, keys, value, TieRegime.Aggregated, estLeafRows(df))
    val input = if (scanShaped(df)) df else graft.Caches.persist(df)
    val p = input.agg(
      approx_count_distinct(struct((keys :+ value).map(col): _*)).as("__gd"),
      count(lit(1)).as("__gn")).head()
    val d = math.max(1L, p.getLong(0))
    val regime =
      if (p.getLong(1).toDouble / d.toDouble >= 2.0) TieRegime.Aggregated else TieRegime.Direct
    TieRank(input, keys, value, regime, BigInt(d * 104L / 100L))
  }

  /**
   * ANSI NTILE recomposed from a global row number and the per-key row
   * count: with N rows and n buckets, the first N mod n buckets take
   * ⌈N/n⌉ rows and the rest ⌊N/n⌋ — Spark's `NTile` implements exactly
   * this rule, so the closed form is bit-equal to `ntile(n)` over the
   * same total order. All-positive long arithmetic; the two divisions
   * are double-exact below 2^53 rows per key. The ⌊N/n⌋ = 0 case
   * (fewer rows than buckets) never reaches the second branch: the
   * first-branch cutoff is then N itself.
   */
  def ntileOf(rn: Column, nt: Column, n: Int): Column = {
    require(n > 0, "ntileOf needs a positive bucket count")
    val q = (nt / n).cast("long")
    val r = nt % n
    val cut = r * (q + 1)
    when(rn <= cut, ((rn - 1) / (q + 1)).cast("long") + 1)
      .otherwise(r + ((rn - cut - 1) / q).cast("long") + 1)
  }

  /** Binary-search insertion index: the number of boundaries ≤ v (so
   *  the bucket id is monotone non-decreasing in v), as a ⌈log₂ m⌉-deep
   *  nested CASE over literals — codegen-friendly, no array scan. */
  private def insertionIndex(v: Column, bs: Array[Double]): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v >= lit(bs(mid)), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, bs.length)
  }

  /**
   * Rank `df` within `keys` by `valueCol` (then `tieBreak`), attaching:
   *   - `rnAs`: global per-key row number in that order (1-based),
   *   - `ntAs`: per-key row count,
   *   - any [[Extras]] columns.
   * `desc` reverses the VALUE order (tieBreak columns stay ascending),
   * with Spark's default null placement (asc → nulls first, desc →
   * nulls last). All other input columns pass through untouched.
   */
  def ranked(
      df: DataFrame, keys: Seq[String], valueCol: String,
      tieBreak: Seq[String] = Nil, desc: Boolean = false,
      rnAs: String = "__grn", ntAs: String = "__gnt",
      extras: Extras = Extras()): DataFrame = {
    require(tieBreak.isEmpty ||
      (extras.peerMinAs.isEmpty && extras.peerMaxAs.isEmpty &&
        extras.denseAs.isEmpty && extras.rangeSums.isEmpty),
      "peer/range aggregates define peers by the VALUE alone; a tieBreak " +
        "order would shrink peer groups to single rows")
    val v = col(valueCol)
    val ord = (if (desc) v.desc else v.asc) +: tieBreak.map(col(_).asc)

    if (!useBucketed(df)) return windowPath(df, keys, ord, v, rnAs, ntAs, extras)

    // One probe aggregate: candidate boundaries + key cardinality. The
    // boundary count adapts: cells ≈ 4·parallelism total, so buckets
    // shrink as key cardinality grows and collapse to the window path
    // once the keys alone are parallel enough.
    val spark = df.sparkSession
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val bMax = math.min(MaxBuckets, math.max(parallelism * 8, 16))
    val kExpr =
      if (keys.isEmpty) lit(1L)
      else approx_count_distinct(struct(keys.map(col): _*))
    val probe = df.agg(
      percentile_approx(v.cast("double"),
        array((1 until bMax).map(i => lit(i.toDouble / bMax)): _*),
        lit(2500)).as("__gbs"),
      kExpr.as("__gk")).head()
    val kApprox = math.max(1L, probe.getLong(1))
    val want = math.max(1L, 4L * parallelism / kApprox).toInt
    val raw: Seq[Double] =
      if (probe.isNullAt(0)) Nil
      else probe.getSeq[Double](0).distinct.sorted
    // thin the candidate boundaries to ~`want` buckets
    val stride = math.max(1, bMax / math.max(1, want))
    val bs = raw.zipWithIndex.collect { case (b, i) if (i + 1) % stride == 0 => b }
      .distinct.toArray
    if (bs.isEmpty) return windowPath(df, keys, ord, v, rnAs, ntAs, extras)

    bucketedPath(df, keys, valueCol, ord, desc, bs, rnAs, ntAs, extras)
  }

  /**
   * Injective, strictly ORDER-PRESERVING long id over a TOTAL order —
   * NOT a contiguous row number. For id targets whose VALUE column is
   * heavily tied — the SSJoin vocabulary's document-frequency counts,
   * where millions of rows share df = 1 — [[ranked]]'s value-bucketed
   * path cannot split the tie block (its buckets are a function of the
   * value alone, by design, so peer aggregates stay exact), and the
   * window path funnels the whole frame through one task (measured as
   * a 6.6 s single-task stage inside q135 at sf10). Range-partitioning
   * by the WHOLE order splits the ties across tasks, and
   * `monotonically_increasing_id` over the partition-local sort is
   * order-isomorphic to the global order: ids in partition i are all
   * below ids in partition i+1 (the id's high bits are the partition
   * index; range partitioning puts strictly-smaller keys in
   * strictly-earlier partitions — strict because the caller's order is
   * total), and within a partition the id follows the local sort.
   *
   * The result is EAGERLY checkpointed ([[graft.Caches.checkpoint]],
   * so its scan carries the true row count) before returning: range
   * boundaries come from sampling, so two plan branches re-executing
   * this subtree could assign DIFFERENT (still valid) ids — any
   * consumer that compares the ids across branches (the SSJoin's
   * candidate/verify stages) would silently break. The barrier pins
   * one materialization; the caller releases it with the session
   * sweep ([[graft.Caches.releaseAll]]), which every driver main runs.
   * Callers must only depend on the ids' ORDER and injectivity, never
   * on contiguity — and the order is only deterministic when `ord` is
   * total.
   */
  def orderIsoId(df: DataFrame, ord: Seq[Column], idAs: String): DataFrame =
    df.repartitionByRange(ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn(idAs, monotonically_increasing_id())
      .transform(graft.Caches.checkpoint(_).df)

  /** The exact single-window plan (today's shape) — kept for small
   *  inputs and high-cardinality keys, and as the semantics oracle the
   *  bucketed path must reproduce bit-for-bit (RangeRankSpec). All rank
   *  outputs are LONG (the bucketed path's offset sums are longs, and
   *  the two paths must agree on schema); consumers cast down if their
   *  output contract wants Spark's int rank types. */
  private def windowPath(
      df: DataFrame, keys: Seq[String], ord: Seq[Column], v: Column,
      rnAs: String, ntAs: String, x: Extras): DataFrame = {
    def part: WindowSpec =
      if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val wOrd = part.orderBy(ord: _*)
    val wAll = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPeers = wOrd.rangeBetween(Window.currentRow, Window.currentRow)
    val wCum = wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // rank first, peer aggregates OVER the rank in a second projection:
    // an aggregate of a window function cannot nest in one expression
    val s1 = df.select(col("*"), row_number().over(wOrd).cast("long").as(rnAs))
    val cols = Seq(count(lit(1)).over(wAll).as(ntAs)) ++
      x.peerMinAs.map(n => min(col(rnAs)).over(wPeers).as(n)) ++
      x.peerMaxAs.map(n => max(col(rnAs)).over(wPeers).as(n)) ++
      x.denseAs.map(n => dense_rank().over(wOrd).cast("long").as(n)) ++
      x.rangeSums.map { case (e, n) => sum(e).over(wCum).as(n) } ++
      x.keyTotals.map { case (e, n) => sum(e).over(wAll).as(n) }
    s1.select(col("*") +: cols: _*)
  }

  private def bucketedPath(
      df: DataFrame, keys: Seq[String], valueCol: String, ord: Seq[Column],
      desc: Boolean, bs: Array[Double], rnAs: String, ntAs: String,
      x: Extras): DataFrame = {
    val v = col(valueCol)
    val m = bs.length
    // monotone in the SORT direction; nulls to the end Spark's default
    // null ordering puts them (asc → first, desc → last)
    val bucket =
      when(v.isNull, lit(if (desc) m + 1 else -1))
        .otherwise(if (desc) lit(m) - insertionIndex(v.cast("double"), bs)
        else insertionIndex(v.cast("double"), bs))
    val withB = df.withColumn("__gbkt", bucket)
    val cellKeys = keys :+ "__gbkt"
    val cellCols = cellKeys.map(col)

    // local windows within a (key, bucket) cell — ONE exchange on the
    // cell key; peer frames are RANGE (order-independent under ties)
    val wOrd = Window.partitionBy(cellCols: _*).orderBy(ord: _*)
    val wPeers = wOrd.rangeBetween(Window.currentRow, Window.currentRow)
    val wCum = wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val s1 = withB.select(col("*") +:
      (row_number().over(wOrd).cast("long").as("__glrn") +:
        x.rangeSums.zipWithIndex.map { case ((e, _), i) =>
          sum(e).over(wCum).as(s"__glcs_$i") }): _*)
    val localCols =
      (if (x.peerMinAs.isDefined || x.denseAs.isDefined)
        Seq(min(col("__glrn")).over(wPeers).as("__glpmin")) else Nil) ++
      x.peerMaxAs.map(_ => max(col("__glrn")).over(wPeers).as("__glpmax"))
    val local0 =
      if (localCols.isEmpty) s1 else s1.select(col("*") +: localCols: _*)
    // dense rank = running count of first-of-peer-group rows — a RANGE
    // frame over the already-windowed frame (same exchange, second pass)
    val local = x.denseAs match {
      case Some(_) => local0.withColumn("__gldn",
        sum(when(col("__glrn") === col("__glpmin"), 1L).otherwise(0L)).over(wCum))
      case None => local0
    }

    // per-cell aggregates: a second scan of the input, map-side combined
    // to ≤ |keys|·(m+2) rows — the funnel-free price of the split pass
    val cellAggs =
      Seq(count(lit(1)).as("__gcn")) ++
        x.rangeSums.zipWithIndex.map { case ((e, _), i) => sum(e).as(s"__gcs_$i") } ++
        x.keyTotals.zipWithIndex.map { case ((e, _), i) => sum(e).as(s"__gct_$i") } ++
        (if (x.denseAs.isDefined)
          Seq((count_distinct(v) +
            max(when(v.isNull, 1L).otherwise(0L))).as("__gcd")) else Nil)
    val cells = withB.groupBy(cellCols: _*).agg(cellAggs.head, cellAggs.tail: _*)

    // exclusive running offsets per key over the tiny cells frame; the
    // bucket id orders cells exactly as the value order does
    val keyPart =
      if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val wOff = keyPart.orderBy(col("__gbkt")).rowsBetween(Window.unboundedPreceding, -1)
    val wTot = keyPart.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offCols = Seq(
      sum(col("__gcn")).over(wOff).as("__goffn"),
      sum(col("__gcn")).over(wTot).as(ntAs)) ++
      x.rangeSums.zipWithIndex.map { case (_, i) =>
        sum(col(s"__gcs_$i")).over(wOff).as(s"__goffs_$i") } ++
      x.keyTotals.zipWithIndex.map { case ((_, n), i) =>
        sum(col(s"__gct_$i")).over(wTot).as(n) } ++
      (if (x.denseAs.isDefined)
        Seq(sum(col("__gcd")).over(wOff).as("__goffd")) else Nil)
    val offs = cells.select(cellCols ++ offCols: _*)

    // global = cell offset + local; first cell per key has a NULL
    // exclusive offset (empty frame) — fold with when(), not a typed
    // zero literal, so decimal sums keep their exact precision
    def plusOff(localC: Column, off: Column): Column =
      when(off.isNull, localC).otherwise(localC + off)
    // NULL-SAFE join back: groupBy treats a null key as a group, so a
    // null-keyed row must rejoin its own offsets row (withBoundsFrame's
    // contract); the offsets-side keys are renamed to avoid ambiguity
    val renamed = cellKeys.foldLeft(offs)((o, k) =>
      o.withColumnRenamed(k, s"__gok_$k"))
    val cond = cellKeys.map(k => col(k) <=> col(s"__gok_$k")).reduce(_ && _)
    val joined = local.join(broadcast(renamed), cond)
      .drop(cellKeys.map(k => s"__gok_$k"): _*)
    val outCols = Seq(
      plusOff(col("__glrn"), col("__goffn")).as(rnAs)) ++
      x.peerMinAs.map(n => plusOff(col("__glpmin"), col("__goffn")).as(n)) ++
      x.peerMaxAs.map(n => plusOff(col("__glpmax"), col("__goffn")).as(n)) ++
      x.denseAs.map(n => plusOff(col("__gldn"), col("__goffd")).as(n)) ++
      x.rangeSums.zipWithIndex.map { case ((_, n), i) =>
        plusOff(col(s"__glcs_$i"), col(s"__goffs_$i")).as(n) }
    val internal = Seq("__gbkt", "__glrn", "__glpmin", "__glpmax", "__gldn",
      "__goffn", "__goffd") ++
      x.rangeSums.indices.flatMap(i => Seq(s"__glcs_$i", s"__goffs_$i"))
    joined.select(col("*") +: outCols: _*)
      .drop(internal.filter(joined.columns.contains): _*)
  }
}
