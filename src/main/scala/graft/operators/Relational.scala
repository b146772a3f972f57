package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Exact.{absorb, toD, toDec}

/**
 * Relational operators: joins, dedup, union, top-k, pivot, windows —
 * the Spark-first re-expression of the reference's `merge_dados` /
 * `unir_dados` stages (reference dag.py:44-57, 205-213) and its
 * notebook-style analysis queries.
 */
object Relational {

  /**
   * The reference's merge: right-join a column subset of `left` into
   * `right` on `key`, then keep-first dedup on the key (reference
   * dag.py:48-49). pandas' `keep='first'` depends on physical row order;
   * a distributed engine has none, so "first" is made explicit and
   * deterministic via `orderBy` — semantics the oracle can reproduce.
   *
   * Scale posture: when the left (column-subset) side is small it is
   * broadcast; otherwise Catalyst plans a shuffle hash / sort-merge join
   * on the key, and the dedup window reuses that same hash partitioning
   * (no second shuffle).
   */
  def mergeRightDedup(
      left: DataFrame, leftCols: Seq[String],
      right: DataFrame, key: String,
      firstBy: Seq[Column],
      broadcastLeft: Boolean = false): DataFrame = {
    val l = left.select((key +: leftCols.filterNot(_ == key)).map(col): _*)
    val joined = right.join(if (broadcastLeft) broadcast(l) else l, Seq(key), "left")
    keepFirst(joined, Seq(col(key)), firstBy)
  }

  /**
   * Deterministic keep-first dedup: one row per `keys`, choosing the first
   * under `order` (reference dag.py:49,263 `drop_duplicates(keep='first')`).
   * Window `row_number` shuffles once on `keys`; with AQE, skewed keys are
   * split at runtime.
   */
  def keepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    keepFirstN(df, keys, order, 1)

  /** First `n` rows per key under `order` (WindowGroupLimit prunes map-side). */
  def keepFirstN(df: DataFrame, keys: Seq[Column], order: Seq[Column], n: Int): DataFrame =
    df.withColumn("__graft_rn", row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("__graft_rn") <= n)
      .drop("__graft_rn")

  /**
   * Deterministic stratified sample for corpus curation: within each
   * stratum keep the `n` rows with the smallest hash of `hashCol` — a
   * reproducible pseudo-random draw (same rows on any cluster, any
   * partitioning, any engine computing the same hash), unlike
   * seeded-RNG sampling whose output shifts with partition layout.
   * `tieBreak` must make the ordering total (e.g. the row id): duplicate
   * `hashCol` values hash identically, and row_number over a tie is
   * partition-order dependent — exactly the nondeterminism this
   * operator exists to avoid.
   */
  def stratifiedSample(df: DataFrame, strata: Seq[String], hashCol: Column, n: Int,
                       tieBreak: Seq[Column] = Nil): DataFrame =
    keepFirstN(df, strata.map(col), md5(hashCol.cast("string")) +: tieBreak, n)

  /** Union of homogeneous slices by column name (reference dag.py:208 concat). */
  def unionSlices(slices: Seq[DataFrame]): DataFrame =
    slices.reduce(_.unionByName(_))

  /**
   * Deterministic top-k by measure with a tie-break key. Spark plans this
   * as TakeOrderedAndProject: per-partition heaps + a k-row merge on the
   * driver — no global sort of 100 TB.
   */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /**
   * Wide pivot via conditional aggregation: one shuffle, fixed output
   * schema (the `groupBy().pivot()` API needs either a values list or an
   * extra distinct job; conditional agg is the plan we want at scale).
   */
  def pivotConditional(df: DataFrame, groupCols: Seq[String], pivotCol: String,
                       values: Seq[String], measure: Column): DataFrame = {
    val aggs = values.map(v =>
      sum(when(col(pivotCol) === v, measure).otherwise(lit(0))).as(v))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Hierarchical subtotals via ROLLUP: one shuffle produces every
   * grouping-set level (the notebook's repeated per-level `value_counts`
   * passes collapse into a single aggregation).
   */
  def rollupAgg(df: DataFrame, groupCols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.rollup(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /**
   * Full cube: every grouping-set combination in one shuffle, with a
   * `grouping(c)` indicator per dimension so subtotal rows are
   * distinguishable from genuine NULL dimension values — the robust
   * form of what [[rollupAgg]] does for hierarchies.
   */
  def cubeAgg(df: DataFrame, groupCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    val indicators = groupCols.map(c => grouping(col(c)).cast("int").as(s"is_total_$c"))
    df.cube(groupCols.map(col): _*)
      .agg((indicators ++ aggs).head, (indicators ++ aggs).tail: _*)
  }

  /**
   * Arbitrary grouping sets in one pass: the general form of
   * [[rollupAgg]] (prefix sets) and [[cubeAgg]] (power set) when the
   * wanted grains are neither — e.g. ((region, segment), (segment),
   * ()) without the (region)-only grain. One shuffle computes every
   * grain (Spark expands the sets map-side and aggregates once);
   * running N separate groupBys would scan the fact table N times.
   * `grouping(c)` indicators disambiguate subtotal rows from genuine
   * NULL dimension values, as in [[cubeAgg]].
   */
  def groupingSetsAgg(df: DataFrame, sets: Seq[Seq[String]],
      groupCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    val indicators = groupCols.map(c => grouping(col(c)).cast("int").as(s"is_total_$c"))
    df.groupingSets(sets.map(_.map(col)), groupCols.map(col): _*)
      .agg((indicators ++ aggs).head, (indicators ++ aggs).tail: _*)
  }

  /**
   * Distinct cardinality: exact (two-phase partial distinct) or HLL++
   * sketch (`rsd` relative error) — the sketch is the 100 TB default:
   * fixed-size mergeable state instead of shuffling every distinct value.
   */
  def distinctCount(df: DataFrame, column: String, approx: Boolean = false, rsd: Double = 0.05): DataFrame =
    if (approx) df.agg(approx_count_distinct(col(column), rsd).as("n_distinct"))
    else df.agg(countDistinct(col(column)).as("n_distinct"))

  /**
   * Skew-resistant two-phase aggregation: rows are first aggregated on
   * (keys, salt) — spreading one hot key over `saltBuckets` reducers —
   * then the partials are combined on the true keys. The salt is derived
   * from each row's physical id, so even a hot key whose rows are all
   * IDENTICAL spreads uniformly (a content hash would collapse duplicate
   * rows into one bucket — the classic skew case this operator exists
   * for). The salt value never affects the final result — phase 2
   * re-aggregates on the true keys — so result determinism rests on the
   * phase aggregates themselves (use [[graft.functions.Exact]] builders
   * for float sums). Use when one key holds a disproportionate share of
   * a 100 TB table and even map-side partial aggregation leaves a hot
   * reducer; for joins, AQE's skew-join splitting covers the same risk.
   *
   * `partials` maps each output column to (phase-1 agg of the input,
   * phase-2 agg of the partial) — e.g. `("n", count(lit(1)), sum)` for a
   * count, `("s", sum(c), sum)` for a sum.
   */
  def saltedAgg(
      df: DataFrame, keys: Seq[String], saltBuckets: Int,
      partials: Seq[(String, Column, Column => Column)]): DataFrame = {
    val salted = df.withColumn("__graft_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys :+ "__graft_salt").map(col): _*)
      .agg(partials.head._2.as(s"__graft_p_${partials.head._1}"),
        partials.tail.map { case (n, agg, _) => agg.as(s"__graft_p_$n") }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(partials.head._3(col(s"__graft_p_${partials.head._1}")).as(partials.head._1),
        partials.tail.map { case (n, _, fin) => fin(col(s"__graft_p_$n")).as(n) }: _*)
  }

  /**
   * Skew-resistant equi-join: the big side salts each row (physical-id
   * hash, as in [[saltedAgg]] — identical hot-key rows still spread),
   * the small side replicates once per salt bucket, and the join runs
   * on (keys, salt) — one hot key spreads over `saltBuckets` reducers
   * instead of melting one. Result is row-identical to the plain join
   * (every big row meets exactly one replica of each matching small
   * row). Use when a known hot key defeats even AQE's skew-join
   * splitting (e.g. one key is most of a partition AND both sides are
   * too big to broadcast); costs `saltBuckets`× the small side's
   * shuffle volume. Only big-side-preserving join types are allowed:
   * right/full outer would emit `saltBuckets` copies of every unmatched
   * small-side row (each replica survives independently).
   */
  def saltedJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    val allowed = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(allowed.contains(joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin supports big-side-preserving join types only, got $joinType")
    val bigS = big.withColumn("__graft_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)).cast("int"))
    val smallS = small.withColumn("__graft_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    bigS.join(smallS, keys :+ "__graft_salt", joinType)
      .drop("__graft_salt")
  }

  /**
   * Grouped quantiles: exact linear-interpolated percentiles (matches
   * DuckDB `quantile_cont` bit-for-bit) via
   * [[Features.groupQuantiles]]'s sort-rank selection — bounded memory
   * at any value cardinality, unlike the `percentile` hash-map
   * aggregate it replaced (which holds every distinct value per
   * partial buffer; q134's OOM at the sf10 scale step). The
   * Greenwald-Khanna `approx_percentile` sketch remains the cheap
   * single-pass alternative for monitoring-grade answers (q48 trade).
   */
  def quantileAgg(
      df: DataFrame, keys: Seq[String], valueCol: String,
      ps: Seq[(String, Double)], approx: Boolean = false, accuracy: Int = 10000): DataFrame =
    if (approx) {
      val aggs = ps.map { case (name, p) =>
        percentile_approx(col(valueCol), lit(p), lit(accuracy)).as(name)
      }
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    } else Features.groupQuantiles(df, keys, valueCol,
      ps.map { case (name, p) => p -> name })

  /**
   * Period-over-period contribution decomposition — "which segment
   * drove the change": per segment, the current and prior totals, the
   * delta, and the segment's share of the OVERALL delta (shares sum to
   * 1 across segments; a segment moving against the trend gets a
   * negative share). One scan with two conditional exact-decimal sums
   * per segment; the overall delta is one broadcast scalar row; share
   * is one double division of exact decimals. Zero overall delta (the
   * degenerate "nothing changed" frame) yields NULL shares rather than
   * an ANSI 0/0 error.
   */
  def deltaContribution(
      df: DataFrame, segments: Seq[String], measure: Column,
      isCurrent: Column, isPrior: Column, scale: Int = 4): DataFrame = {
    require(segments.nonEmpty, "deltaContribution needs segment columns")
    val dec = measure.cast(s"decimal(18,$scale)")
    val per = df.groupBy(segments.map(col): _*)
      .agg(sum(when(isCurrent, dec)).as("__gcur"),
        sum(when(isPrior, dec)).as("__gpri"))
      .withColumn("__gd",
        coalesce(col("__gcur"), lit(0).cast(s"decimal(18,$scale)")) -
          coalesce(col("__gpri"), lit(0).cast(s"decimal(18,$scale)")))
    val total = per.agg(sum(col("__gd")).as("__gtot"))
    per.crossJoin(broadcast(total))
      .select((segments.map(col) :+
        col("__gcur").cast("double").as("cur_total") :+
        col("__gpri").cast("double").as("prior_total") :+
        col("__gd").cast("double").as("delta") :+
        when(col("__gtot") =!= 0,
          col("__gd").cast("double") / col("__gtot").cast("double"))
          .as("delta_share")): _*)
  }

  /**
   * Rolling exact quantile over an ordered per-key frame (`window` rows
   * ending at the current row) — the robust rolling smoother a rolling
   * MEAN cannot be (one spike pollutes a mean for `window` rows; a
   * median shrugs it off). `percentile` runs as a window aggregate over
   * the bounded frame — per-row cost O(window log window), the right
   * trade below ~10³ frame rows (beyond that, pre-bucket values the
   * q131 way). Interpolation parity with DuckDB `quantile_cont` is the
   * q40-pinned bit contract. The ordering must be total or frame
   * membership is layout-dependent.
   */
  def rollingQuantile(
      df: DataFrame, column: String, keys: Seq[String], order: Seq[Column],
      window: Int, p: Double, out: String = "rolling_q"): DataFrame = {
    require(window > 0, "rollingQuantile needs a positive window")
    require(p >= 0 && p <= 1, "rollingQuantile needs p in [0, 1]")
    require(keys.nonEmpty,
      "rollingQuantile needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    df.withColumn(out, percentile(col(column), lit(p)).over(w))
  }

  /**
   * Idempotent-load filter: rows of `incoming` whose `keys` already exist
   * in `existing` are dropped — the Spark-first re-expression of the
   * reference's `INSERT ... ON CONFLICT DO NOTHING` warehouse load
   * (reference dag.py:290-445, which resolves conflicts row-by-row in
   * the database). Resolving them as one distributed anti-join BEFORE
   * the write keeps the sink append-only and the conflict check
   * parallel; re-running a load is a no-op.
   */
  def idempotentAppend(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    // no distinct on the build side: left_anti is unaffected by duplicate
    // keys, and deduplicating first would cost an extra shuffle
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Existence joins for FK-integrity checks (orphans / members). */
  def antiJoin(df: DataFrame, other: DataFrame, joinExprs: Column): DataFrame =
    df.join(other, joinExprs, "left_anti")

  def semiJoin(df: DataFrame, other: DataFrame, joinExprs: Column): DataFrame =
    df.join(other, joinExprs, "left_semi")

  /**
   * Equal-frequency discretization: assign each row to one of `n`
   * quantile buckets of `column` within its group — ANSI `NTILE`, whose
   * bucket-size rule (earlier buckets get the extra rows) is pinned by
   * the SQL standard, so any conforming engine reproduces the buckets
   * bit-for-bit once the ordering is total. `tieBreak` columns must
   * make it total (CLAUDE.md window rule) or tied values land in
   * engine-dependent buckets.
   *
   * One hash shuffle on the group keys below
   * [[graft.operators.RangeRank.useBucketed]]'s threshold; above it the
   * bin is [[graft.operators.RangeRank.ntileOf]]'s closed form over the
   * distributed global rank — neither a low-cardinality-key funnel nor
   * the single-partition global window survives at scale.
   *
   * WHY NOT VALUE-AGGREGATED (the q145/q150/percentile rewrite): NTILE
   * is ROW-POSITION based, not value based — the standard's bucket rule
   * splits a tie run across bucket boundaries by the total order's row
   * positions, so the output is NOT a pure function of (keys, value):
   * two rows with identical (keys, value) can land in different
   * buckets. Aggregating to distinct (keys, value) counts therefore
   * loses exactly the information NTILE needs (which row of the tie run
   * is which), and no exact recomposition from a value-frame rank
   * exists. The designed scale exit is [[graft.operators.RangeRank]]'s
   * bucketed global rank itself: per-(key, value-range) cells bound the
   * sort state, and the measured 100× residual (45× at sf10, one box)
   * is shuffle-spill volume that divides across executors on a real
   * cluster — the same adjudication as q161's decimal-38 note.
   */
  def quantileBins(
      df: DataFrame, column: String, keys: Seq[String], n: Int,
      tieBreak: Seq[String], out: String = "bin"): DataFrame = {
    if (!RangeRank.useBucketed(df)) {
      val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
      val w = base.orderBy((column +: tieBreak).map(col): _*)
      df.withColumn(out, ntile(n).over(w).cast("long"))
    } else {
      RangeRank.ranked(df, keys, column, tieBreak)
        .withColumn(out, RangeRank.ntileOf(col("__grn"), col("__gnt"), n))
        .drop("__grn", "__gnt")
    }
  }

  /**
   * Unpivot (melt): rotate measure COLUMNS into (variable, value) ROWS —
   * the inverse of [[pivotConditional]], and the shape long-format
   * consumers (plotting, ML feature tables, sparse stores) want.
   * Zero shuffle: a pure row-local explode multiplying rows by
   * `values.size`; Catalyst plans Spark's native Expand node, which
   * column-prunes unreferenced measures like any projection.
   */
  def melt(
      df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String = "measure", valName: String = "value"): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  /**
   * Top-k rows per group under a TOTAL ordering. Spark plans the rank
   * filter as WindowGroupLimit: each task keeps only k rows per group
   * BEFORE the shuffle and again after, so the exchange carries at most
   * k rows per (task, group) — never the full table sorted. The rank is
   * kept in the output (`rankCol`) since consumers usually want it.
   */
  def topKPerGroup(
      df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
      rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /**
   * Heavy-hitter profile of a key column: the k most frequent values
   * with their counts and corpus share — the diagnostic to run BEFORE a
   * big join or aggregation to decide whether salting/skew handling is
   * needed ([[saltedAgg]]/[[saltedJoin]] are the fixes; this is the
   * detector). One aggregation shuffle (map-side combined), then a
   * 2-value total frame broadcast onto the tiny grouped frame and a
   * bounded top-k sort.
   */
  def heavyHitters(df: DataFrame, column: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(column)).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("__gt"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("__gt").cast("double"))
      .drop("__gt")
      .orderBy(col("n").desc, col(column))
      .limit(k)
  }

  /**
   * Incremental aggregate maintenance: merge a stored aggregate table
   * with the aggregate of a new delta batch — counts and exact-decimal
   * sums are algebraic, so `merge(agg(old), agg(delta)) == agg(old ∪
   * delta)` and history is NEVER rescanned (the point at 100 TB: the
   * stored aggregate is keys × metrics, the delta is one batch; the
   * union shuffles only those). `metrics` names the columns to combine
   * by summation; both inputs must share (keys ++ metrics) schemas,
   * as produced by the same upstream aggregation.
   */
  def mergeAggregates(
      stored: DataFrame, delta: DataFrame, keys: Seq[String],
      metrics: Seq[String]): DataFrame =
    stored.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(metrics.map(m => sum(col(m)).as(m)).head,
        metrics.map(m => sum(col(m)).as(m)).tail: _*)

  /**
   * Per-group HLL sketch partials: fixed-size mergeable distinct-count
   * state, persisted as binary — the 100 TB pre-aggregation pattern.
   * Store sketches at a fine grain once; every later rollup re-
   * aggregates the SKETCHES (bytes per group) instead of rescanning the
   * raw table. The rollup ([[hllRollup]]) is deterministic and
   * layout-independent (register merge is a commutative max), and its
   * estimate carries the same ~1.04/√2^lgK error as sketching the
   * coarser grain directly — though not bit-identical to it (the union
   * gadget is HLL_8; a direct sketch defaults to HLL_4).
   */
  def hllPartials(
      df: DataFrame, keys: Seq[String], column: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(column), lit(lgK)).as("sketch"))

  /** Roll partial sketches up to a coarser grain and estimate. */
  def hllRollup(partials: DataFrame, keys: Seq[String]): DataFrame = {
    val est = hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n_distinct")
    if (keys.isEmpty) partials.agg(est)
    else partials.groupBy(keys.map(col): _*).agg(est)
  }

  /**
   * Pairwise correlation matrix over N numeric columns in ONE scan: a
   * single aggregate computes every moment — n, per-column Σx and Σx²,
   * per-pair Σxy, all exact decimal sums ([[Exact]] construction), so
   * the matrix is order-independent and engine-portable — and the
   * N·(N−1)/2 upper-triangle correlations unfold from that one 1-row
   * frame via an inline explode. Profiling 20 columns costs one scan
   * and one reduce, not 190 passes; columns must keep |value|·10^scale
   * products below 2^53 for the decimal→double casts to be exact
   * (normalize wide columns first).
   *
   * Rows with a null in ANY profiled column are dropped first
   * (listwise deletion, the standard correlation-matrix convention):
   * n and every sum must share one support, or the assembled "corr"
   * is the correlation of no row subset at all and can land outside
   * [-1, 1].
   */
  def corrMatrix(df: DataFrame, cols: Seq[String], scale: Int = 4): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val clean = df.na.drop("any", cols)
    // products stay at (18,scale)×(18,scale) — Spark types that as
    // (37, 2·scale), inside the 38 cap, so no scale truncation; the
    // DuckDB oracle casts the FACTORS to DECIMAL(22,·) instead, which
    // is its int128-promotion trick, not a Spark-side need (q41).
    // Aliases are POSITIONAL — name-derived aliases collide for
    // underscore-bearing column names ((u, v_w) vs (u_v, w)).
    def d18(c: String) = col(c).cast(s"decimal(18,$scale)")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (i, j)
    val moments =
      cols.indices.map(i => sum(d18(cols(i))).cast("double").as(s"__gs_$i")) ++
      cols.indices.map(i =>
        sum(d18(cols(i)) * d18(cols(i))).cast("double").as(s"__gq_$i")) ++
      pairs.map { case (i, j) =>
        sum(d18(cols(i)) * d18(cols(j))).cast("double").as(s"__gp_${i}_$j") }
    val m = clean.agg(count(lit(1)).cast("double").as("__gn"), moments: _*)
    val rows = pairs.map { case (i, j) =>
      val pair = Exact.Moments(col("__gn"), col(s"__gs_$i"), col(s"__gs_$j"),
        col(s"__gp_${i}_$j"), col(s"__gq_$i"), col(s"__gq_$j"))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"), pair.corr.as("corr"))
    }
    m.select(explode(array(rows: _*)).as("__gr"))
      .select(col("__gr.col_a").as("col_a"), col("__gr.col_b").as("col_b"),
        col("__gr.corr").as("corr"))
  }

  /**
   * Per-group simple linear regression (slope, intercept, R²) from
   * exact decimal raw moments — the distributed `scipy.stats
   * .linregress` / per-segment trend detector. ONE aggregation pass:
   * n, Σx, Σy, Σxy, Σx², Σy² accumulate as exact decimals
   * (order-independent, [[corrMatrix]]'s typing: (18,s)×(18,s)
   * products stay inside Spark's 38-precision cap), then the closed
   * forms run in ONE fixed IEEE sequence — engine-portable, unlike
   * `regr_slope`'s streaming merge.
   *
   * Degenerate groups guard EXACTLY, not via the float residue: a
   * constant-x group leaves n·Σx² − (Σx)² at ±few-ulp of either sign
   * (the q75 clamp lesson), so slope/intercept/r² are NULLed from the
   * decimal-cast min == max test. Constant-y groups keep their
   * (residue-magnitude, engine-identical) slope but r² is NULLed —
   * "fraction of variance explained" is meaningless at zero variance.
   */
  def linregGroups(
      df: DataFrame, keys: Seq[String], xCol: String, yCol: String,
      scale: Int = 4): DataFrame = {
    def d18(c: String) = col(c).cast(s"decimal(18,$scale)")
    val aggs =
      Exact.Moments.sums(d18(xCol), d18(yCol), read = _.cast("double")).columns("__gn") ++ Seq(
        (min(d18(xCol)) === max(d18(xCol))).as("__gcx"),
        (min(d18(yCol)) === max(d18(yCol))).as("__gcy"))
    val m =
      if (keys.isEmpty) df.na.drop("any", Seq(xCol, yCol)).agg(aggs.head, aggs.tail: _*)
      else df.na.drop("any", Seq(xCol, yCol))
        .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val mm = Exact.Moments.named(col("__gn"))
    val slope = when(!col("__gcx"), mm.slope)
    m.select(keys.map(col) ++ Seq(
        col("__gn").cast("long").as("n"),
        slope.as("slope"),
        when(!col("__gcx"), mm.intercept(slope)).as("intercept"),
        when(!col("__gcx") && !col("__gcy"),
          mm.cov * mm.cov / (mm.varX * mm.varY)).as("r2")): _*)
  }

  /**
   * Scale-aware sequence-gap detection (missing-key audit): the
   * gaps-and-islands complement of [[graft.operators.Events.streaks]]
   * for surrogate/sequence keys. A single global `lag` window would
   * funnel every key through one partition, so the scan is TWO-LEVEL:
   * keys bucket by `key div bucketSize` and in-bucket gaps come from a
   * per-bucket window (parallel across buckets); cross-bucket gaps
   * come from a second window over the per-bucket (min, max) frame —
   * ≤ keyspace/bucketSize rows, aggregated before it is windowed, the
   * bounded-frame condition that makes ITS single partition safe.
   * Output rows are (gap_start, gap_end, n_missing), identical to the
   * one-window form by construction: an entirely-missing bucket folds
   * into the boundary gap between its non-empty neighbors.
   */
  def sequenceGaps(df: DataFrame, keyCol: String, bucketSize: Long): DataFrame = {
    require(bucketSize > 1, "sequenceGaps needs bucketSize > 1")
    val k = col("__gk")
    val keyed = df.select(col(keyCol).cast("long").as("__gk")).na.drop().distinct()
      .withColumn("__gb", expr(s"__gk DIV $bucketSize"))
    val inB = Window.partitionBy(col("__gb")).orderBy(k)
    val inner = keyed
      .withColumn("__gprev", lag(k, 1).over(inB))
      .filter(k - col("__gprev") > 1)
      .select((col("__gprev") + 1).as("gap_start"), (k - 1).as("gap_end"))
    val buckets = keyed.groupBy(col("__gb"))
      .agg(min(k).as("__gmn"), max(k).as("__gmx"))
    val acrossW = Window.orderBy(col("__gb")) // bounded: one row per bucket
    val across = buckets
      .withColumn("__gpmx", lag(col("__gmx"), 1).over(acrossW))
      .filter(col("__gmn") - col("__gpmx") > 1)
      .select((col("__gpmx") + 1).as("gap_start"), (col("__gmn") - 1).as("gap_end"))
    inner.unionByName(across)
      .withColumn("n_missing", col("gap_end") - col("gap_start") + 1)
  }

  /**
   * χ² independence audit as PER-CELL contributions — observed vs
   * expected count and (o−e)²/e for every (a, b) category pair. The
   * per-cell frame is the auditable artifact (which cells drive the
   * dependence); the headline χ² is its sum, left to the caller
   * because a float sum over cells would be the one
   * order-dependent step — every value HERE is either exact-integer
   * (counts, totals) or one fixed IEEE sequence from exact integers
   * (expected = row·col/n, contribution) — engine-portable.
   *
   * One count groupBy over the fact (≤ |a|·|b| partials per task);
   * row/col totals come from two windows over the tiny cells frame
   * sharing its partitioning. Raw rows never shuffle un-aggregated.
   * UNOBSERVED cells matter: a zero cell still contributes e to χ², so
   * the frame is the full distinct(a) × distinct(b) grid (two tiny
   * frames cross-joined) with absent counts as 0 — a groupBy alone
   * would silently drop exactly the cells that signal dependence
   * hardest.
   */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val observed = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("__gobs"))
    val grid = df.select(col(aCol)).distinct()
      .crossJoin(df.select(col(bCol)).distinct())
    val cells = grid.join(observed, Seq(aCol, bCol), "left")
      .withColumn("n", coalesce(col("__gobs"), lit(0L))).drop("__gobs")
    val rowT = sum(col("n")).over(Window.partitionBy(col(aCol)))
    val colT = sum(col("n")).over(Window.partitionBy(col(bCol)))
    val grandT = sum(col("n")).over(Window.partitionBy())
    // cast each total to double BEFORE multiplying: a long×long product
    // overflows at fact scale; the double sequence is engine-identical
    val e = rowT.cast("double") * colT.cast("double") / grandT.cast("double")
    cells
      .withColumn("expected", e)
      .withColumn("contribution", {
        val d = col("n").cast("double") - col("expected")
        d * d / col("expected")
      })
  }

  /**
   * Cramér's V from a [[chiSquareCells]] frame — the bounded [0,1]
   * effect size that makes χ² comparable across tables: χ² grows with
   * N even when the association is trivial, V = √(χ²/(N·min(r−1,c−1)))
   * does not. The categorical companion to q41's Pearson r.
   *
   * Determinism: each cell contribution is a fixed arithmetic sequence
   * (exact counts, correctly-rounded IEEE ·/−, no transcendentals) so
   * the doubles are engine-identical; they route through their
   * DECIMAL(38,12) string image so the χ² SUM is order-independent
   * (the q197 contract), and √ is IEEE-exact. Degenerate grids
   * (single row or column: min dof = 0) yield NULL, never 0/0.
   *
   * Scale: input is the |a|×|b| cells frame — everything here is one
   * bounded aggregation; the fact-table pass happened upstream. The
   * row and column counts are collect_set sizes over that bounded
   * frame (null-skipping, 0 on empty input, like countDistinct): two
   * countDistincts would plan an Expand whose grouping-set order
   * depends on what the session planned before.
   */
  def cramersV(cells: DataFrame, aCol: String, bCol: String): DataFrame = {
    val m = cells.agg(
      sum(col("n")).as("n_obs"),
      size(collect_set(col(aCol))).cast("long").as("__gr"),
      size(collect_set(col(bCol))).cast("long").as("__gc"),
      sum(toDec(col("contribution"), "decimal(38,12)")).as("__gchi"))
    val dof = least(col("__gr") - 1, col("__gc") - 1)
    val chi2 = toD(col("__gchi"))
    m.select(col("n_obs"),
      dof.as("dof_min"),
      chi2.as("chi2"),
      when(dof > 0 && col("n_obs") > 0,
        sqrt(chi2 / (col("n_obs").cast("double") * dof.cast("double"))))
        .as("cramers_v"))
  }

  /**
   * Mutual information (nats) between two categorical columns — the
   * information-theoretic sibling of [[cramersV]]: how many nats does
   * knowing `a` tell you about `b`? Unlike χ², MI is additive across
   * independent signals and is the quantity feature-selection actually
   * ranks by. MI = Σ_cells (n/N)·ln(n·N/(rowT·colT)); empty cells
   * contribute exactly 0 (lim p→0 p·ln p = 0), so only OBSERVED cells
   * are touched — no grid.
   *
   * Determinism: counts and marginals are exact (marginals via windows
   * over the \|a\|×\|b\|-bounded cells frame, the [[chiSquareCells]]
   * shape); operands double-cast BEFORE multiplying (q136 overflow
   * contract); each term's ln image routes through FLOAT (q70 libm
   * contract) and sums via DECIMAL(28,18) string images (q197
   * order-free contract). Returns one row: (n_obs, mi_nats).
   */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("__gn"))
    val rowT = sum(col("__gn")).over(Window.partitionBy(col(aCol)))
    val colT = sum(col("__gn")).over(Window.partitionBy(col(bCol)))
    val grandT = sum(col("__gn")).over(Window.partitionBy())
    val term = (col("__gn").cast("double") / grandT.cast("double")) *
      log(col("__gn").cast("double") * grandT.cast("double") /
        (rowT.cast("double") * colT.cast("double")))
    cells
      .select(col("__gn"),
        absorb(term).as("__gt"))
      .agg(sum(col("__gn")).as("n_obs"), sum(col("__gt")).as("__gmi"))
      .select(col("n_obs"),
        toD(col("__gmi")).as("mi_nats"))
  }

  /**
   * Weighted PageRank by power iteration — the canonical "which node
   * matters" score over any edge frame (trade flows, co-purchase
   * graphs, link graphs): rank' (v) = (1−d)/N + d·Σ_{u→v}
   * rank(u)·w(u,v)/W(u), iterated a fixed `iterations` times from the
   * uniform vector. Fixed iteration count (not convergence-epsilon)
   * keeps the plan deterministic and the oracle expressible as
   * unrolled SQL.
   *
   * Determinism: w and W are exact; each contribution
   * rank·w/W is a fixed IEEE sequence on engine-identical inputs (no
   * transcendentals anywhere), and the per-target sum routes through
   * DECIMAL(38,30) string images so accumulation order cannot matter —
   * by induction every iteration's rank vector is bit-identical across
   * engines and partitionings. Nodes with no in-links keep the
   * teleport term via the left join; dangling nodes (no out-links)
   * leak their mass — the standard "leaky" simplification, documented
   * here rather than hidden.
   *
   * Scale: the normalized edge frame (src, dst, w, W) is built ONCE
   * and checkpointed by the loop entry ([[graft.Sessions.withLoop]]),
   * which also picks the iteration regime from its exact row count —
   * it feeds every iteration, and without the checkpoint the upstream
   * (possibly fact-join-derived) plan would re-execute per iteration
   * (the q151 lesson). The node set derives from the CHECKPOINTED
   * norm frame (an inner join of the edges with their own per-src
   * aggregate carries exactly the edge rows), so the upstream is never
   * replayed for it; \|V\| is the node checkpoint's counted rows, a
   * bounded scalar read with no job of its own.
   *
   * The recurrence iterates on the SPARSE per-target sums frame, not a
   * dense rank vector: rank(u) = (1−d)/N + d·coalesce(sums(u), 0) is
   * inlined into the next iteration's contribution expression, so each
   * iteration is ONE norm ⋈ sums left join + one map-side-combinable
   * aggregation — the dense-rank shape paid a third exchange per
   * iteration re-attaching the \|V\|-sized base frame (profiled at
   * sf0.1 as pure per-job overhead: 44 jobs none above 0.45 s). The
   * inlined expression is the bit-identical tree the dense rank column
   * held, so every iterate — and the oracle hash — is unchanged.
   * Iterations are materialized as rolled checkpoints, so the edge
   * checkpoints are released in the loop entry; the node checkpoint
   * and the final sums checkpoint feed the returned plan and are swept
   * by the caller ([[graft.Caches.releaseAll]]). At 100 TB pass a
   * pre-aggregated edge table.
   */
  def pageRank(
      edges: DataFrame, src: String, dst: String, weight: String,
      iterations: Int, damping: Double): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(damping > 0 && damping < 1, "pageRank needs damping in (0,1)")
    val outW = edges.groupBy(col(src)).agg(sum(col(weight)).as("__gW"))
    val normalized = edges.select(col(src), col(dst), col(weight)).join(outW, src)
    // EAGER iteration under the loop entry's regime (Sessions.withLoop):
    // the lazy `iterations`-deep plan paid AQE stage materialization +
    // replanning per exchange per iteration plus a ~1.2 s deep-plan
    // planning gap at the one action (profiled at sf0.1: 31 jobs for 5
    // iterations). Values are bit-identical: the checkpoints only
    // materialize the same expression trees, and the per-target sums
    // are order-free DECIMAL(38,30) string images.
    graft.Sessions.withLoop(normalized, src) { loop =>
      val norm = loop.edges
      // |V| as a literal: the node checkpoint's own row count — the same
      // value the old dense path carried as a crossed-in __gN column
      val nodes = graft.Caches.checkpoint(norm.select(col(src).as("node"))
        .union(norm.select(col(dst).as("node"))).distinct())
      val gN = lit(nodes.rows).cast("double")
      val d = lit(damping)
      // rank(u) given u's incoming-contribution sum (NULL = no in-links):
      // the exact expression the dense path materialized per node
      def rankOf(sumCol: Column): Column =
        (lit(1.0d) - d) / gN +
          d * coalesce(toD(sumCol), lit(0.0d))
      val roller = loop.scope.roller()
      var sums: Option[DataFrame] = None
      (1 to iterations).foreach { _ =>
        val contrib = sums match {
          case None => // uniform start: rank0 = 1/N for every node
            norm.select(col(dst).as("__gdst"),
              toDec((lit(1.0d) / gN) * col(weight).cast("double") /
                col("__gW").cast("double"), "decimal(38,30)").as("__gc"))
          case Some(s0) =>
            norm.join(loop.hinted(s0.select(col("__gdst").as("__gsrc"), col("__gs"))),
                col(src) === col("__gsrc"), "left")
              .select(col(dst).as("__gdst"),
                toDec(rankOf(col("__gs")) * col(weight).cast("double") /
                  col("__gW").cast("double"), "decimal(38,30)").as("__gc"))
        }
        sums = Some(roller.roll(
          contrib.groupBy(col("__gdst")).agg(sum(col("__gc")).as("__gs"))).df)
        roller.advance()
      }
      // only the node checkpoint and the final sums checkpoint feed the
      // returned plan; the loop entry releases the edge generations
      nodes.df.join(sums.get, col("node") === col("__gdst"), "left")
        .select(col("node"), rankOf(col("__gs")).as("rank"))
    }
  }

  /**
   * EXACT distinct-state partials — the precise twin of [[hllPartials]]
   * for grains whose member sets are bounded: store the per-fine-grain
   * DISTINCT members as (keys..., member) rows. Linear in the true
   * distinct count, mergeable by union, and re-aggregable to any
   * coarser grain without rescanning the fact table ([[
   * exactDistinctRollup]]); the sketch path trades this exactness for
   * fixed-size state when member sets are unbounded.
   */
  def distinctPartials(df: DataFrame, keys: Seq[String], column: String): DataFrame =
    df.select((keys :+ column).map(col): _*).distinct()

  /** Roll exact distinct partials up to a coarser grain: re-distinct on
   *  the coarse key (members appear once per fine grain they were seen
   *  in) and count — identical to a direct COUNT(DISTINCT) over the
   *  fact table, by construction. */
  def exactDistinctRollup(partials: DataFrame, keys: Seq[String], column: String): DataFrame = {
    val members = partials.select((keys :+ column).map(col): _*).distinct()
    if (keys.isEmpty) members.agg(count(lit(1)).as("n_distinct"))
    else members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_distinct"))
  }

  /**
   * Equi-width histogram: `n` equal-width buckets spanning the observed
   * [min, max], returning (keys..., bucket, count). With `keys` the
   * bounds are PER GROUP (the reference notebook's per-UF hour
   * distributions, Análise.ipynb) — a tiny per-group [min, max] frame
   * joined back by key via [[Features.withGroupBounds]]; without keys a
   * single global bounds row is broadcast. The bucket arithmetic is a
   * fixed sequence of IEEE double ops — ((v - lo) * n) / (hi - lo),
   * floored, clamped — so any engine reproduces the same buckets from
   * the same data. Two light shuffles: the bounds aggregate (broadcast
   * back) and the final per-bucket count; the data itself never
   * shuffles un-aggregated — the per-bucket count is map-side combined
   * into at most groups·`n` partials per task.
   */
  def histogram(df: DataFrame, column: String, n: Int,
      keys: Seq[String] = Nil): DataFrame = {
    require(n > 0, "histogram needs a positive bucket count")
    val v = col(column)
    Features.withGroupBounds(df, keys,
      Seq(min(v).as("__glo"), max(v).as("__ghi"))) { joined =>
      joined
        .withColumn("bucket",
          when(col("__ghi") === col("__glo"), 0L)
            .otherwise(least(floor((v - col("__glo")) * n / (col("__ghi") - col("__glo"))), lit(n - 1L))))
        .groupBy((keys :+ "bucket").map(col): _*).agg(count(lit(1)).as("cnt"))
    }
  }

  /**
   * 2-D equi-width histogram (the heatmap frame): nx × ny buckets over
   * the observed [min, max] of each axis, returning (bx, by, cnt) for
   * occupied cells. Same shape as [[histogram]]: one bounds aggregate
   * broadcast back as a single row, bucket arithmetic a fixed IEEE
   * sequence per axis, counts map-side combined to ≤ nx·ny partials
   * per task — the raw data never shuffles un-aggregated. Degenerate
   * axes (min == max) collapse to bucket 0.
   */
  def histogram2d(
      df: DataFrame, xCol: String, yCol: String,
      nx: Int, ny: Int): DataFrame = {
    require(nx > 0 && ny > 0, "histogram2d needs positive bucket counts")
    val x = col(xCol); val y = col(yCol)
    val clean = df.filter(x.isNotNull && y.isNotNull)
    val bounds = clean.agg(min(x).as("__gxlo"), max(x).as("__gxhi"),
      min(y).as("__gylo"), max(y).as("__gyhi"))
    def bucket(v: Column, lo: Column, hi: Column, n: Int) =
      when(hi === lo, 0L)
        .otherwise(least(floor((v - lo) * n / (hi - lo)), lit(n - 1L)))
    clean.crossJoin(broadcast(bounds))
      .withColumn("bx", bucket(x, col("__gxlo"), col("__gxhi"), nx))
      .withColumn("by", bucket(y, col("__gylo"), col("__gyhi"), ny))
      .groupBy(col("bx"), col("by")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Per-group trimmed mean: the mean of values inside the [lo, hi]
   * percentile band — the robust KPI that survives fat tails where a
   * plain mean follows the outliers (winsorize's aggregate cousin:
   * winsorize CLAMPS tails into the band, this EXCLUDES them). Exact
   * percentile bounds come from [[Features.groupQuantiles]]'s sort-rank
   * path (bounded memory at any cardinality) and broadcast back per
   * group, then one exact-decimal conditional mean; boundary values are
   * included, so the band test is pure comparison with no rank
   * arithmetic.
   */
  def trimmedMean(
      df: DataFrame, column: String, keys: Seq[String],
      lo: Double = 0.05, hi: Double = 0.95,
      out: String = "trimmed_mean", scale: Int = 4): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "trimmedMean needs 0 <= lo < hi <= 1")
    val v = col(column)
    val valid = df.filter(v.isNotNull)
    Features.withBoundsFrame(valid, keys, Features.groupQuantiles(
      valid, keys, column, Seq(lo -> "__glo", hi -> "__ghi"))) { j =>
      j.filter(v >= col("__glo") && v <= col("__ghi"))
        .groupBy(keys.map(col): _*)
        .agg(Exact.decAvg(v, scale).as(out))
    }
  }

  /**
   * Per-group Gini coefficient of a non-negative measure — the
   * inequality/concentration summary (revenue concentration, token
   * ownership) complementing [[abcClassify]]'s banding: G = (2·Σi·xᵢ −
   * (n+1)·Σx) / (n·Σx) with x ascending, i = 1..n. Σi·x and Σx are
   * EXACT decimals; the closed form combines them in ONE fixed IEEE
   * sequence. Ties: any tie order yields the same Σi·x (equal values
   * commute across consecutive ranks), so row_number without a
   * tie-break is still layout-independent HERE — do not copy this
   * reasoning to per-row rank outputs. Zero-total groups yield NULL
   * (0/0 would be an ANSI error).
   *
   * Above [[graft.operators.RangeRank.useBucketed]]'s threshold the
   * fact rows are never ranked (the q145/q150 value-aggregation rule,
   * which a round-9 note wrongly ruled out): a tie block of value v
   * with count c at cumulative count `cum` occupies ranks
   * lo..hi = (cum−c+1)..cum, an arithmetic series, so the DOUBLED rank
   * sum 2·Σᵢi·xᵢ = Σ_blocks (lo+hi)·c·v = Σ (2·cum−c+1)·c·v — the
   * factor-of-2 the closed form wants anyway, so no division appears.
   * Precision: the integer factor types (38,0) and each product
   * (38,4); x ≥ 0 makes every block term ≤ the group's total 2Σi·x,
   * which is the SAME magnitude the row-level (38,4) SUM must already
   * hold — the value-aggregated form is exactly as overflow-safe as
   * the row-level one, not less (the round-9 impossibility note
   * assumed the per-TERM 13-digit rank cap was load-bearing; only the
   * total's budget is). Bit-parity: decimal distributivity makes the
   * block sums the same exact decimals, and double(2·S) = 2·double(S)
   * exactly, so the final IEEE sequence is unchanged (RangeRankSpec
   * pins bucketed == window).
   */
  def gini(
      df: DataFrame, column: String, keys: Seq[String],
      out: String = "gini", scale: Int = 4): DataFrame = {
    require(keys.nonEmpty,
      "gini needs group keys: an unkeyed rank window is a global single-partition funnel")
    val v = col(column)
    val xd = v.cast(s"decimal(18,$scale)")
    val valid = df.filter(v.isNotNull)
    // Per group: __gs2 = exact decimal 2·Σi·x, __gs0 = exact Σx, __gn = n.
    val sums =
      if (!RangeRank.useBucketed(valid)) {
        val w = Window.partitionBy(keys.map(col): _*).orderBy(v)
        valid.withColumn("__grnk", row_number().over(w).cast("long"))
          // (13,0)×(18,s)→(32,s): per-term exactness by the rank cap
          .withColumn("__gix", col("__grnk").cast("decimal(13,0)") * xd)
          .withColumn("__gxd", xd)
          .groupBy(keys.map(col): _*)
          .agg((sum(col("__gix")) * 2).cast(s"decimal(38,$scale)").as("__gs2"),
            sum(col("__gxd")).as("__gs0"), count(lit(1)).as("__gn"))
      } else {
        val agg = valid.groupBy((keys :+ column).map(col): _*)
          .agg(count(lit(1)).as("__gc"))
        val ranked = RangeRank.ranked(agg, keys, column,
          extras = RangeRank.Extras(
            rangeSums = Seq(col("__gc") -> "__gcum")))
        ranked
          // (lo+hi)·c·v per block: long (2·cum−c+1) → (20,0), ×(18,0)
          // → (38,0) exact-if-fits, ×(18,s) → (38,s) exact-if-fits;
          // both fit whenever the row-level (38,s) sum itself does
          .withColumn("__gs2b",
            (col("__gcum") * 2 - col("__gc") + 1).cast("decimal(20,0)") *
              col("__gc").cast("decimal(18,0)") * xd)
          .withColumn("__gxb", xd * col("__gc").cast("decimal(18,0)"))
          .groupBy(keys.map(col): _*)
          .agg(sum(col("__gs2b")).cast(s"decimal(38,$scale)").as("__gs2"),
            sum(col("__gxb")).cast(s"decimal(38,$scale)").as("__gs0"),
            sum(col("__gc")).as("__gn"))
      }
    sums.select((keys.map(col) :+
      when(col("__gs0") > 0,
        (col("__gs2").cast("double") -
          (col("__gn") + 1).cast("double") * col("__gs0").cast("double")) /
          (col("__gn").cast("double") * col("__gs0").cast("double")))
        .as(out)): _*)
  }

  /**
   * The SQL rank family in one pass: `rank`, `dense_rank` and
   * `cume_dist` of `column` within `keys` — all value-deterministic
   * under ties (peers share outputs), so no tie-break is needed and the
   * result is layout-independent. One per-key window below
   * [[graft.operators.RangeRank.useBucketed]]'s threshold; above it the
   * three recompose from [[graft.operators.RangeRank.ranked]]'s
   * distributed peer-group min/max row number and per-cell distinct
   * counts, matching Spark's own forms bit-for-bit (`rank` = first peer
   * position, `cume_dist` = last peer position / n as one double
   * division, `dense_rank` = distinct values at or below). Output
   * types match the window functions' (int ranks, double cume_dist).
   *
   * Because every output is TIE-INVARIANT, [[RangeRank.tieRank]]
   * decides the plan above the threshold: its value-aggregated plan
   * never sorts the fact rows — on the per-(keys, value) frame the row
   * number IS dense_rank, the exclusive running count + 1 IS rank and
   * the inclusive running count over the key total IS cume_dist — and
   * maps the three back (q166's sf10 prices shrink 101×: 60 M rows →
   * 594 k distinct, turning a 60 M-row exchange+sort into scan + tiny
   * rank + broadcast join); near-unique values keep the direct
   * bucketed rank.
   */
  def rankFamily(
      df: DataFrame, column: String, keys: Seq[String],
      rankAs: String = "rnk", denseAs: String = "drnk",
      cumeAs: String = "cd"): DataFrame = {
    require(keys.nonEmpty,
      "rankFamily needs partition keys: an unkeyed rank window is a global single-partition funnel")
    val tr = RangeRank.tieRank(df, keys, column)
    tr.regime match {
      case RangeRank.TieRegime.Window =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(column))
        df.select(col("*"), rank().over(w).as(rankAs),
          dense_rank().over(w).as(denseAs), cume_dist().over(w).as(cumeAs))
      case RangeRank.TieRegime.Direct =>
        RangeRank.ranked(tr.input, keys, column,
          extras = RangeRank.Extras(peerMinAs = Some("__gpmin"),
            peerMaxAs = Some("__gpmax"), denseAs = Some("__gpdn")))
          .withColumn(rankAs, col("__gpmin").cast("int"))
          .withColumn(denseAs, col("__gpdn").cast("int"))
          .withColumn(cumeAs,
            col("__gpmax").cast("double") / col("__gnt").cast("double"))
          .drop("__grn", "__gnt", "__gpmin", "__gpmax", "__gpdn")
      case RangeRank.TieRegime.Aggregated =>
        val ranked = tr.counted(RangeRank.Extras(
          rangeSums = Seq(col("__qc") -> "__qhi"),
          keyTotals = Seq(col("__qc") -> "__qnt")))
        tr.mapBack(ranked.select((keys :+ column).map(col) ++ Seq(
          (col("__qhi") - col("__qc") + 1).cast("int").as(rankAs),
          col("__grn").cast("int").as(denseAs),
          (col("__qhi").cast("double") / col("__qnt").cast("double"))
            .as(cumeAs)): _*))
    }
  }

  /**
   * Herfindahl–Hirschman concentration index per group: Σ shareᵢ² of
   * each member's row count — the "is one user/supplier/domain
   * dominating this segment" audit (1/n uniform → 1 monopolized).
   * Exact-rational: HHI = Σcᵢ² / T², with Σc² an exact decimal (counts
   * cast to (18,0) so squares type (37,0), inside the cap) and T²
   * squared in double AFTER the exact count exits (T² itself would
   * overflow int64 at fact scale). Two aggregations, the second over
   * the ≤ |groups|·|members| cells frame.
   */
  def hhi(
      df: DataFrame, groupCol: String, memberCol: String,
      out: String = "hhi"): DataFrame = {
    val cells = df.groupBy(col(groupCol), col(memberCol))
      .agg(count(lit(1)).cast("decimal(18,0)").as("__gc"))
    cells.groupBy(col(groupCol))
      .agg(sum(col("__gc") * col("__gc")).as("__gs2"), sum(col("__gc")).as("__gt"))
      .select(col(groupCol),
        (col("__gs2").cast("double") /
          (col("__gt").cast("double") * col("__gt").cast("double"))).as(out))
  }

  /**
   * Market-basket pairwise co-occurrence (the support table behind
   * frequent-itemset mining): for every unordered item pair that shares
   * a basket, the number of baskets containing both. Items are
   * collapsed to distinct per basket first (a repeated line is one
   * occurrence), then the basket-keyed self-join fans out C(k,2) pairs
   * per basket — bounded by the square of the basket size, NOT the
   * table size, so the join is a co-partitioned hash join on the basket
   * key (both sides are the SAME distinct frame: Catalyst reuses one
   * exchange). `minSupport` prunes the singleton-pair tail before it
   * shuffles to the pair aggregation.
   */
  def copurchasePairs(
      df: DataFrame, basket: String, item: String,
      minSupport: Long = 2L): DataFrame = {
    val items = df.filter(col(basket).isNotNull && col(item).isNotNull)
      .select(col(basket).as("__gb"), col(item).as("__gi")).distinct()
    items.select(col("__gb"), col("__gi").as("item_a"))
      .join(items.select(col("__gb"), col("__gi").as("item_b")), Seq("__gb"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /**
   * Association rules over [[copurchasePairs]]' support table: for each
   * qualifying unordered pair, both directed rules A→B and B→A with
   * confidence = supp(A,B)/supp(A) and lift = N·supp(A,B)/(supp(A)·
   * supp(B)) — the "customers who bought X also bought Y" readout with
   * the base-rate correction raw support lacks (lift > 1 = genuinely
   * associated, ≈ 1 = coincidence of popularity).
   *
   * Exactness: all supports and the basket count N are exact integers;
   * confidence and lift are fixed IEEE sequences over double-cast
   * operands (the products are computed IN double — N·supp would
   * overflow int64 at fact scale, and IEEE multiplication of exact-int
   * doubles is engine-identical).
   *
   * Scale: the distinct (basket, item) frame feeds the pair
   * self-join, the item-support rollup, and the basket count — all
   * FOUR consumers share ONE shuffle through exchange reuse (the
   * distinct's canonicalized exchange is identical under each branch,
   * so only its final-aggregate pass replays per consumer — cheap
   * local shuffle reads), so it is NOT persisted: the cache write of
   * the corpus-sized frame bought nothing the exchange didn't already
   * dedupe (the q223 revert rule). Item supports join back onto the
   * pruned pair frame ONCE (keyed by each end), and both directed
   * rules fan out IN-ROW from the joined pair (an explode over a
   * 2-struct array) — the earlier union-then-join shape pushed 2× the
   * pair rows through 2× the support joins. Dropping the persist plus
   * the single-pass support joins together measured sf10 109.2 →
   * 42.7 s (3-rep floors; [[copurchasePairs]] alone — the shared
   * upstream — floors at ~34 s, so the rules stage now costs ~9 s,
   * down from ~75). The popular-item skew on those joins is the q118
   * AQE shape; N rides as a broadcast one-row frame.
   */
  def assocRules(
      df: DataFrame, basket: String, item: String,
      minSupport: Long = 2L): DataFrame = {
    val items = df.filter(col(basket).isNotNull && col(item).isNotNull)
      .select(col(basket).as("__gb"), col(item).as("__gi")).distinct()
    val pairs = items.select(col("__gb"), col("__gi").as("item_a"))
      .join(items.select(col("__gb"), col("__gi").as("item_b")), Seq("__gb"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val itemSupp = items.groupBy(col("__gi")).agg(count(lit(1)).as("__gs"))
    val baskets = items.select(col("__gb")).distinct().agg(count(lit(1)).as("__gn"))
    val sD = col("support").cast("double")
    pairs
      .join(itemSupp.select(col("__gi").as("item_a"), col("__gs").as("__gsa")), "item_a")
      .join(itemSupp.select(col("__gi").as("item_b"), col("__gs").as("__gsb")), "item_b")
      .crossJoin(broadcast(baskets))
      .select(explode(array(
        struct(col("item_a").as("antecedent"), col("item_b").as("consequent"),
          col("__gsa").as("__gsx"), col("__gsb").as("__gsy")),
        struct(col("item_b").as("antecedent"), col("item_a").as("consequent"),
          col("__gsb").as("__gsx"), col("__gsa").as("__gsy")))).as("__gr"),
        col("support"), col("__gn"))
      .select(col("__gr.antecedent").as("antecedent"),
        col("__gr.consequent").as("consequent"), col("support"),
        (sD / col("__gr.__gsx").cast("double")).as("confidence"),
        (sD * col("__gn").cast("double") /
          (col("__gr.__gsx").cast("double") * col("__gr.__gsy").cast("double"))).as("lift"))
  }

  /**
   * Per-class precision/recall/F1 from a confusion-matrix frame
   * (true, predicted, n), plus one `__macro__` row with the unweighted
   * class means — the per-class readout q172's single kappa number
   * hides (a classifier can hold high kappa while one minority class
   * scores zero). A class appearing on either axis gets a row; a
   * metric whose denominator is zero (never predicted / never true) is
   * NULL, and the macro mean averages the NON-NULL values (the count
   * divides only what summed — both engines' aggregates skip nulls the
   * same way).
   *
   * Exactness: tp/fp/fn are exact integers; precision/recall/F1 are
   * fixed IEEE sequences; the macro means sum FLOAT images of the
   * per-class doubles via DECIMAL(28,18) strings (q197 order-free
   * contract) — the only cross-row float addition in the operator.
   *
   * Scale: the confusion frame is ≤ |classes|² rows by construction;
   * every join and aggregate here is bounded by the label vocabulary,
   * not the data. The input is PERSISTED before fan-out (q151 rule):
   * it feeds three rollups plus the label union, and its upstream —
   * typically a full prediction pipeline — must not replay per branch.
   */
  def classMetrics(
      confusion: DataFrame, trueCol: String, predCol: String,
      nCol: String): DataFrame = {
    val conf = graft.Caches.persist(confusion)
    val byTrue = conf.groupBy(col(trueCol).as("label"))
      .agg(sum(col(nCol)).as("__gt"))
    val byPred = conf.groupBy(col(predCol).as("label"))
      .agg(sum(col(nCol)).as("__gp"))
    val diag = conf.filter(col(trueCol) === col(predCol))
      .select(col(trueCol).as("label"), col(nCol).as("__gtp"))
    val base = byTrue.select(col("label"))
      .unionByName(byPred.select(col("label"))).distinct()
      .join(byTrue, Seq("label"), "left")
      .join(byPred, Seq("label"), "left")
      .join(diag, Seq("label"), "left")
      // string labels: the `__macro__` summary row must union without
      // coercing the class axis (ANSI would cast the marker DOWN to a
      // numeric label type and throw)
      .select(col("label").cast("string").as("label"),
        coalesce(col("__gt"), lit(0L)).as("__gt"),
        coalesce(col("__gp"), lit(0L)).as("__gp"),
        coalesce(col("__gtp"), lit(0L)).as("__gtp"))
    val p = when(col("__gp") > 0, col("__gtp").cast("double") / col("__gp").cast("double"))
    val r = when(col("__gt") > 0, col("__gtp").cast("double") / col("__gt").cast("double"))
    // perClass feeds TWO plan branches (the output union and the macro
    // means) — persist it or the 3-join base chain over the cached
    // confusion frame executes twice (the q151 multi-branch rule;
    // lifetime is caller-owned via Caches.releaseAll like `conf` above)
    val perClass = base.select(col("label"), p.as("precision"), r.as("recall"))
      .withColumn("f1", when(
        col("precision").isNotNull && col("recall").isNotNull &&
          (col("precision") + col("recall")) > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
      .transform(graft.Caches.persist)
    def meanOf(c: String) =
      (toD(sum(absorb(col(c)))) / count(col(c)).cast("double")).as(c)
    val macroRow = perClass.agg(
      meanOf("precision"), meanOf("recall"), meanOf("f1"))
      .select(lit("__macro__").as("label"),
        col("precision"), col("recall"), col("f1"))
    perClass.unionByName(macroRow)
  }

  /**
   * 2-D Pareto frontier (skyline), maximizing both axes: rows not
   * dominated by any other row (x' ≥ x AND y' ≥ y with one strict).
   * O(n log n), no self-join: collapse ties of x to their max y (the
   * only candidate at that x — anything lower is dominated by it), then
   * one running max over the collapsed frame ordered by x descending —
   * a row survives iff its y strictly exceeds every y at strictly
   * greater x. The window is single-partition but runs over ≤
   * |distinct x| rows (the collapsed frame, bounded like
   * cumulativeDistinct's span-days frame — for wide-domain doubles,
   * pre-bucket x first). A semi-join on (x, maxy) re-emits ALL original
   * rows at a frontier point: equal points don't dominate each other.
   */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol); val y = col(yCol)
    val clean = df.filter(x.isNotNull && y.isNotNull)
    val best = clean.groupBy(x.as("__gx")).agg(max(y).as("__gy"))
    val w = Window.orderBy(col("__gx").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best.withColumn("__gm", max(col("__gy")).over(w))
      .filter(col("__gm").isNull || col("__gy") > col("__gm"))
    clean.join(frontier,
      x === col("__gx") && y === col("__gy"), "leftsemi")
  }

  /**
   * Per-group weighted median (lower): the smallest value whose
   * cumulative weight reaches half the group total — the robust center
   * when rows carry unequal mass (quantity-weighted price, duration-
   * weighted load). Both cumulative and total sums run in exact decimal
   * (a double cumsum's tie-internal addition order is engine-dependent;
   * decimal is order-independent), and the RANGE frame includes ties of
   * the value so equal values accumulate atomically — the threshold
   * test `2·cum ≥ total` is exact integer arithmetic, and the output is
   * the untouched input value. One window + one groupBy, both
   * partitioned by the group keys, below
   * [[graft.operators.RangeRank.useBucketed]]'s threshold.
   *
   * Above it the fact rows are never ranked at all: the RANGE frame is
   * already value-atomic, so pre-aggregating the weight per distinct
   * (keys, value) (map-side combinable; decimal addition is
   * associative, so the per-value subtotal then the cumulative sum is
   * the SAME exact decimal the row-level RANGE sum produces) shrinks
   * the rank problem to the value cardinality — 101× at the measured
   * sf10 step — and the per-key answer needs no join back. The
   * aggregated frame itself rides [[graft.operators.RangeRank.ranked]],
   * which keeps a plain window while it is small and distributes over
   * (key, value-range) cells once web-scale value cardinality demands
   * it, so a low-cardinality key never funnels the sort.
   */
  def weightedMedian(
      df: DataFrame, valueCol: String, weightCol: String, keys: Seq[String],
      out: String = "wmedian", scale: Int = 4): DataFrame = {
    require(keys.nonEmpty,
      "weightedMedian needs group keys: an unkeyed rank window is a global single-partition funnel")
    val v = col(valueCol)
    val wgt = col(weightCol).cast(s"decimal(18,$scale)")
    val clean = df.filter(v.isNotNull && col(weightCol).isNotNull)
    val cumulated =
      if (!RangeRank.useBucketed(clean)) {
        val cumW = Window.partitionBy(keys.map(col): _*).orderBy(v)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val totW = Window.partitionBy(keys.map(col): _*)
        clean
          .withColumn("__gc", sum(wgt).over(cumW))
          .withColumn("__gt", sum(wgt).over(totW))
      } else {
        val agg = clean.groupBy((keys :+ valueCol).map(col): _*)
          .agg(sum(wgt).as("__gw"))
        RangeRank.ranked(agg, keys, valueCol,
          extras = RangeRank.Extras(
            rangeSums = Seq(col("__gw") -> "__gc"),
            keyTotals = Seq(col("__gw") -> "__gt")))
      }
    cumulated
      .filter(col("__gc") * 2 >= col("__gt"))
      .groupBy(keys.map(col): _*).agg(min(v).as(out))
  }

  /**
   * Rolling mean over an ordered per-key frame (`window` rows ending at
   * the current row). The frame sum goes through the exact-decimal
   * detour: engines disagree on framed-double-sum order (DuckDB uses a
   * segment tree, Spark a running accumulator), so a double sum drifts
   * in the last ulp while the decimal sum is order-independent; the
   * final double division is a single IEEE op. The ordering must be
   * total for the frame membership itself to be deterministic.
   */
  def movingAvg(
      df: DataFrame, column: String, keys: Seq[String], order: Seq[Column],
      window: Int, out: String, scale: Int = 4): DataFrame = {
    require(window > 0, "movingAvg needs a positive window")
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val w = base.orderBy(order: _*).rowsBetween(-(window - 1), Window.currentRow)
    df.withColumn(out,
      sum(col(column).cast(s"decimal(18,$scale)")).over(w).cast("double") /
        count(lit(1)).over(w))
  }

  /**
   * Rolling-window anomaly flags: mean and population stddev over the
   * `window` rows STRICTLY BEFORE the current row, flagging rows where
   * |v − mean| > k·stddev — the streaming-monitorable outlier test
   * ([[graft.operators.Cleaning.madOutliers]] is its robust per-GROUP
   * twin; this one is per-POSITION, so level shifts re-baseline).
   * Excluding the current row matters: a genuine spike inside its own
   * baseline inflates the stddev it is tested against and masks
   * itself. Each key's first row has an empty frame and gets NULL
   * stats (empty-frame SUM is NULL in Spark and DuckDB alike —
   * portable by construction) and a FALSE flag: "no baseline yet" is
   * not an anomaly, and a three-valued flag column would force every
   * downstream filter to reason about NULL.
   *
   * Moments use the [[graft.functions.Exact]] construction windowed:
   * framed decimal sums are order-independent (engines disagree on
   * framed-DOUBLE-sum order — DuckDB segment tree vs Spark running
   * accumulator), and the mean/stddev closed forms are then fixed IEEE
   * sequences any engine reproduces. One shuffle; all three window
   * aggregates share the frame. The radicand clamp mirrors
   * [[graft.functions.Exact.decStddevPop]] (zero-variance frames can
   * land ulps negative). `order` must be total.
   */
  def rollingAnomalies(
      df: DataFrame, column: String, keys: Seq[String], order: Seq[Column],
      window: Int, k: Double, scale: Int = 4): DataFrame = {
    require(window > 1, "rollingAnomalies needs a window of at least 2 rows")
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val w = base.orderBy(order: _*).rowsBetween(-window, -1)
    val v = col(column)
    val dv = Exact.dec(v, scale)
    val n = count(v).over(w).cast("double")
    val sx = sum(dv).over(w).cast("double")
    val sxx = sum(dv * dv).over(w).cast("double")
    // explicit n > 0 guards, not null-propagation: greatest() IGNORES
    // nulls (both engines), so an empty frame would otherwise reach the
    // division as sqrt(0)/0 — an ANSI error, not a NULL. One select (not
    // chained withColumn) so all three window aggregates land in ONE
    // Window node — chaining planned a second Window pass re-running
    // the frame aggregates over the sorted rows.
    val mean = when(n > 0, sx / n)
    val std = when(n > 0, Exact.Moments.univariate(n, sx, sxx).stddevPop)
    df.select(col("*"), mean.as("roll_mean"), std.as("roll_std"),
      coalesce(abs(v - mean) > lit(k) * std, lit(false)).as("is_anomaly"))
  }

  /**
   * Ordered group concatenation: each group's values as ONE sorted,
   * separator-joined string — the reporting/export staple (pandas
   * `groupby.apply(','.join)`). Sorting inside the aggregate is what
   * makes the result partition-layout independent: `collect_list`
   * order is arrival order, so an unsorted join would differ run to
   * run. Only for groups whose member set is BOUNDED (the
   * [[distinctPartials]] caveat): the aggregation state is the member
   * list itself. Duplicates are kept unless `distinct`.
   */
  def orderedConcat(
      df: DataFrame, keys: Seq[String], valueCol: String,
      sep: String = ",", distinct: Boolean = false,
      out: String = "joined"): DataFrame = {
    val collected = collect_list(col(valueCol))
    val members = if (distinct) array_distinct(collected) else collected
    df.groupBy(keys.map(col): _*)
      .agg(array_join(array_sort(members), sep).as(out),
        count(col(valueCol)).as("n_values"))
  }

  /**
   * Pareto / ABC classification: rank items by `weightCol` descending
   * within each key group, attach the cumulative weight share, and
   * classify A (head, cum share ≤ `aThreshold`), B (≤ `bThreshold`),
   * C (tail) — the inventory-analysis standard, and the corpus-curation
   * move for "which sources carry 80% of the tokens".
   *
   * Runs on an already-aggregated frame (one row per item), so the
   * window is over item counts, not raw facts. With `keys` the windows
   * partition per group and parallelize; keys = Nil is the global
   * ranking and (like `topk`) funnels through one partition — only for
   * item sets that fit one executor (aggregate first!).
   *
   * Exactness: cumulative and total sums run on the DECIMAL weight
   * (order-independent, and the DESC ordering compares exact decimals,
   * not doubles); the single share division and the threshold compares
   * are engine-identical IEEE ops. `tieBreak` must make the DESC
   * ordering total or cum shares of tied rows are partition-order
   * dependent.
   */
  def abcClassify(
      df: DataFrame, keys: Seq[String], weightCol: String,
      tieBreak: Seq[String], aThreshold: Double = 0.8,
      bThreshold: Double = 0.95, scale: Int = 4): DataFrame = {
    require(aThreshold <= bThreshold, "A threshold must not exceed B threshold")
    val wdec = col(weightCol).cast(s"decimal(18,$scale)")
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val ord = base.orderBy(wdec.desc +: tieBreak.map(col): _*)
    val cum = sum(wdec).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val tot = sum(wdec).over(base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    df.withColumn("cum_share", cum.cast("double") / tot.cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= aThreshold, "A")
          .when(col("cum_share") <= bThreshold, "B")
          .otherwise("C"))
  }
}
