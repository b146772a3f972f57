package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Exact.{absorb, toD}

/**
 * Feature preparation for model-training pipelines: per-group
 * standardization, deterministic mixture sampling, and token-budget
 * sequence packing. The reference stops at cleaning + star-schema load
 * (dag.py:47-288); these are the steps a training pipeline runs next,
 * built on the same exact-aggregate machinery so every scaling constant
 * is bit-reproducible across engines and partitionings.
 */
object Features {

  /**
   * Shared scaffold for bounds-frame operators ([[zscore]],
   * [[minmaxScale]], [[Cleaning.winsorize]], grouped histogram):
   * aggregate `stats` to one row per group, broadcast the tiny bounds
   * frame back onto `df`, hand the joined frame to `post`, and drop the
   * stat columns. The big table never shuffles — the only exchange is
   * the aggregate's own partial/final pair.
   *
   * The bounds join is NULL-SAFE (`<=>`): groupBy treats null as a
   * group, so rows with a null key must rejoin their own bounds row
   * rather than silently vanish through a null-rejecting equi-join —
   * every input row appears in the output, matching the keyless path.
   */
  private[operators] def withGroupBounds(
      df: DataFrame, keys: Seq[String], stats: Seq[Column])(
      post: DataFrame => DataFrame): DataFrame =
    withBoundsFrame(df, keys,
      if (keys.isEmpty) df.agg(stats.head, stats.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(stats.head, stats.tail: _*))(post)

  /** [[withGroupBounds]] with a caller-built one-row-per-group `bounds`
   *  frame (e.g. [[groupQuantiles]]'s sort-rank output) instead of a
   *  plain aggregate. Same null-safe broadcast join, same stat-column
   *  cleanup. */
  private[operators] def withBoundsFrame(
      df: DataFrame, keys: Seq[String], bounds: DataFrame)(
      post: DataFrame => DataFrame): DataFrame = {
    val joined =
      if (keys.isEmpty) df.crossJoin(broadcast(bounds))
      else {
        // rename the bounds-side keys before joining: both sides descend
        // from `df`, so a df(k)/bounds(k) condition would be ambiguous
        val renamed = keys.foldLeft(bounds)((b, k) => b.withColumnRenamed(k, s"__gbk_$k"))
        val cond = keys.map(k => col(k) <=> col(s"__gbk_$k")).reduce(_ && _)
        df.join(broadcast(renamed), cond).drop(keys.map(k => s"__gbk_$k"): _*)
      }
    post(joined).drop(bounds.columns.filterNot(keys.contains).toIndexedSeq: _*)
  }

  /**
   * Exact grouped quantiles by SORT-RANK SELECTION — bit-identical to
   * Spark's `percentile` aggregate (hence to DuckDB `quantile_cont`,
   * the q40 parity) with bounded memory at any value cardinality.
   *
   * `percentile`'s buffer is a value→count hash map, so every partial
   * aggregate holds every distinct value of every group it touches —
   * O(distinct values) heap that OOMs on high-cardinality columns
   * (measured: q134's robust-scale over 60 M lineitem prices at the
   * sf10 scale step, 8 g heap). This twin never materializes a
   * distribution: it ranks within groups (ONE window exchange; Spark's
   * window buffers spill to disk), keeps only the ≤ 2 ranked rows per
   * requested percentile that interpolation can touch, and aggregates
   * those. The interpolation mirrors `Percentile.getPercentile`
   * exactly — `(higher − pos)·lo + (pos − lower)·hi` over
   * `pos = p·(n−1)` with the integral-position and equal-endpoint
   * shortcuts taken BEFORE any arithmetic — so results are bitwise
   * equal to the hash-map path's.
   *
   * Group parity with `groupBy(keys).agg(percentile(...))`: null keys
   * form groups (groupBy semantics), all-null-value groups emit null
   * quantiles (nulls rank FIRST, so such a group keeps its rank-1 row
   * as a representative and aggregates to nulls), and null values
   * never count (`pos` runs over the non-null rank). Ties carry no
   * order-dependence: `row_number` among equal values is arbitrary,
   * but only the VALUE at a rank is read, and that is unique. The rank
   * itself is [[RangeRank.ranked]]'s: one per-key window below the size
   * threshold, the bucketed distributed rank above it — so neither a
   * keyless call nor a low-cardinality-key call funnels a large sort
   * into one task.
   *
   * When [[RangeRank.tieRank]] picks the value-aggregated plan the FACT
   * rows are never ranked at all: the value at a non-null rank is
   * tie-invariant, a pure function of the distinct (keys, value)
   * multiplicities, so each distinct value covers the rank range
   * (cum − cnt, cum] of its peer-inclusive cumulative count, and a
   * target rank r selects the one value whose range contains it.
   * Nothing joins back — the output was already one row per group.
   * Both plans read the same exact values at the same exact ranks, so
   * they are bit-identical by construction (RangeRankSpec pins it).
   *
   * Output columns: `keys ++ countAs ++ ps` names; quantiles are
   * DOUBLE. `countAs` co-emits each group's non-null value count for
   * callers that report it alongside (saves a second aggregate pass).
   */
  def groupQuantiles(
      df: DataFrame, keys: Seq[String], column: String,
      ps: Seq[(Double, String)], countAs: Option[String] = None): DataFrame = {
    require(ps.nonEmpty, "groupQuantiles needs at least one percentile")
    require(ps.forall { case (p, _) => p >= 0 && p <= 1 },
      "percentiles must be in [0, 1]")
    val vd = col(column).cast("double")
    val tr = RangeRank.tieRank(
      df.select(keys.map(col) :+ vd.as("__qv"): _*), keys, "__qv")

    def pos(p: Double) = lit(p) * (col("__qn") - lit(1)).cast("double")

    // Each path yields (picked, hit): `picked` holds the ≤ 2·|ps| rows
    // per group interpolation can touch (plus one representative row for
    // all-null groups); `hit(r)` is true on the row holding the group's
    // value at non-null rank r. The shared tail below is path-blind.
    val (picked, hit): (DataFrame, Column => Column) =
      if (tr.regime == RangeRank.TieRegime.Aggregated) {
        // __qhiR = peer-inclusive cumulative NON-NULL count in value
        // order (nulls first contribute 0), so a non-null row covers
        // ranks (__qhiR − __qc, __qhiR] and a null row covers none
        // (its __qhiR is 0 and target ranks are ≥ 1).
        val nn = when(col("__qv").isNotNull, col("__qc")).otherwise(lit(0L))
        val ranked = tr.counted(RangeRank.Extras(
          rangeSums = Seq(nn -> "__qhiR"),
          keyTotals = Seq(nn -> "__qn")))
        val h = (r: Column) =>
          r > col("__qhiR") - col("__qc") && r <= col("__qhiR")
        val needed = ps.map { case (p, _) =>
          val q = pos(p); h(floor(q) + 1) || h(ceil(q) + 1)
        }.reduce(_ || _)
        // all-null group: its only aggregated row is the null value —
        // keep it so the group still emits (a null quantile)
        (ranked.filter(needed || col("__qn") === 0), h)
      } else {
        // exact-window path: (__qv double, __qn non-null count, __qt
        // group row count, __qrnn rank among the group's non-null values
        // ascending). Nulls rank first, so the non-null rank is the row
        // number minus the group's null count.
        val ranked = RangeRank.ranked(
          tr.input, keys, "__qv", rnAs = "__qrn0", ntAs = "__qt",
          extras = RangeRank.Extras(keyTotals = Seq(
            (when(col("__qv").isNotNull, 1L).otherwise(0L), "__qn"))))
          .withColumn("__qrnn", col("__qrn0") - (col("__qt") - col("__qn")))
        val h = (r: Column) => col("__qrnn") === r
        val needed = ps.map { case (p, _) =>
          val q = pos(p); h(floor(q) + 1) || h(ceil(q) + 1)
        }.reduce(_ || _)
        (ranked.filter(
          (col("__qv").isNotNull && needed) ||
            // all-null group: keep the rank-1 row so the group still emits
            (col("__qn") === 0 && col("__qrnn") === lit(1) - col("__qt"))), h)
      }

    val aggs = max(col("__qn")).as("__qn") +:
      ps.zipWithIndex.flatMap { case ((p, _), i) =>
        val q = pos(p)
        Seq(
          max(when(hit(floor(q) + 1), col("__qv"))).as(s"__qlo_$i"),
          max(when(hit(ceil(q) + 1), col("__qv"))).as(s"__qhi_$i"))
      }
    val agged =
      if (keys.nonEmpty) picked.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      else picked.groupBy().agg(aggs.head, aggs.tail: _*)

    val outCols = ps.zipWithIndex.map { case ((p, name), i) =>
      val n = col("__qn")
      val q = lit(p) * (n - lit(1)).cast("double")
      val lo = col(s"__qlo_$i"); val hi = col(s"__qhi_$i")
      when(n.isNull || n === 0, lit(null).cast("double"))
        .when(floor(q) === ceil(q), lo)
        .when(lo === hi, lo)
        .otherwise((ceil(q).cast("double") - q) * lo +
          (q - floor(q).cast("double")) * hi)
        .as(name)
    }
    agged.select(keys.map(col) ++
      countAs.map(c => coalesce(col("__qn"), lit(0L)).as(c)) ++ outCols: _*)
  }

  /**
   * Per-group z-score standardization: (v - mean) / stddev_pop, with
   * mean and stddev built from exact decimal sums ([[Exact]]) so the
   * scaling constants are order-independent and engine-portable.
   *
   * Zero-variance groups standardize to 0.0 — detected EXACTLY via the
   * decimal-cast min == max, never via sigma: for constant groups the
   * float moment cancellation n·sxx − sx² leaves a ±few-ulp residue of
   * either sign, so a sigma-based guard yields NaN or a garbage tiny
   * sigma. (The clamp inside [[Exact.decStddevPop]] still prevents NaN
   * for near-constant groups whose residue lands negative.)
   */
  def zscore(
      df: DataFrame, column: String, keys: Seq[String],
      scale: Int = 4): DataFrame = {
    val v = col(column)
    val dec = v.cast(s"decimal(18,$scale)")
    withGroupBounds(df, keys, Seq(
      Exact.decAvg(v, scale).as("__gmu"),
      Exact.decStddevPop(v, scale).as("__gsigma"),
      (min(dec) === max(dec)).as("__gconst"))) {
      _.withColumn(column,
        when(col("__gconst"), 0d)
          .otherwise((v - col("__gmu")) / col("__gsigma")))
    }
  }

  /**
   * Per-group min-max scaling to [0, 1]. Min/max of doubles are exact
   * (no summation), so no decimal detour is needed; the subtraction and
   * division are single IEEE ops, identical in any engine. Degenerate
   * groups (max == min) scale to 0.0.
   */
  def minmaxScale(df: DataFrame, column: String, keys: Seq[String]): DataFrame = {
    val v = col(column)
    withGroupBounds(df, keys, Seq(min(v).as("__gmn"), max(v).as("__gmx"))) {
      _.withColumn(column,
        when(col("__gmx") === col("__gmn"), 0d)
          .otherwise((v - col("__gmn")) / (col("__gmx") - col("__gmn"))))
    }
  }

  /**
   * Per-group robust scaling: (v − median) / IQR — the outlier-immune
   * standardization ([[zscore]]'s mean/σ move with the spikes they
   * should be insensitive to; median/IQR do not — the
   * `sklearn.RobustScaler` semantics). Exact `percentile` matches
   * DuckDB `quantile_cont` bit-for-bit (the q40 parity), and the
   * subtraction + division are single IEEE ops — engine-portable with
   * no decimal detour. Zero-IQR groups scale to 0.0 (at least half the
   * group sits AT the median; same convention as [[minmaxScale]]'s
   * degenerate guard). Quantiles come from [[groupQuantiles]]'s
   * sort-rank path: the `percentile` hash-map aggregate holds every
   * distinct value per partial buffer and OOM'd this exact operator at
   * the sf10 scale step (60 M high-cardinality prices, 8 g heap); the
   * sort-rank twin is bit-identical with bounded memory, so the exact
   * path now IS the 100 TB path (`percentile_approx` remains the cheap
   * monitoring alternative, q48).
   */
  def robustScale(df: DataFrame, column: String, keys: Seq[String]): DataFrame = {
    val v = col(column)
    withBoundsFrame(df, keys, groupQuantiles(df, keys, column, Seq(
      0.5 -> "__gmed", 0.25 -> "__gq1", 0.75 -> "__gq3"))) {
      _.withColumn(column,
        when(col("__gq3") === col("__gq1"), 0d)
          .otherwise((v - col("__gmed")) / (col("__gq3") - col("__gq1"))))
    }
  }

  /**
   * Per-group percent-rank (quantile) transform: each value mapped to
   * its empirical CDF position in [0, 1] — the rank-based feature
   * scaler that is immune to ANY monotone distortion of the input
   * (zscore/minmax/robust all shift with outlier magnitude; ranks do
   * not). Ties share a rank (`percent_rank` is value-ordered, no
   * tie-break), so equal inputs ALWAYS map to equal outputs and the
   * result is layout-independent by construction; nulls order FIRST
   * on both engines by explicit spec. Singleton groups map to 0.0.
   * One window shuffle per group set below [[RangeRank.useBucketed]]'s
   * threshold.
   *
   * Above it [[RangeRank.tieRank]] decides the plan: because ties share
   * a rank, percent_rank is a pure function of (keys, value), so the
   * value-aggregated plan recomposes the shared minimum rank from the
   * value-order cumulative count, rankMin(v) = Σ_{v' ≤ v} cnt − cnt(v)
   * + 1, and maps it back; near-unique values rank the input directly
   * through [[RangeRank.ranked]]'s bucketed cells (peer-min
   * recomposition). Every plan emits `PercentRank`'s own
   * (rankMin − 1)/(n − 1) IEEE form on exact longs.
   */
  def percentRankScale(
      df: DataFrame, column: String, keys: Seq[String],
      out: String = "pct_rank"): DataFrame = {
    require(keys.nonEmpty,
      "percentRankScale needs partition keys: an unkeyed rank window is a global single-partition funnel")
    val tr = RangeRank.tieRank(df, keys, column)
    val ranks = tr.regime match {
      case RangeRank.TieRegime.Window =>
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(column).asc_nulls_first)
        return df.withColumn(out, percent_rank().over(w))
      case RangeRank.TieRegime.Direct =>
        RangeRank.ranked(tr.input, keys, column,
          extras = RangeRank.Extras(peerMinAs = Some("__gpmin")))
      case RangeRank.TieRegime.Aggregated =>
        tr.mapBack(tr.counted(RangeRank.Extras(
            rangeSums = Seq(col("__qc") -> "__gcum"),
            keyTotals = Seq(col("__qc") -> "__gtot")))
          .select((keys :+ column).map(col) ++ Seq(
            (col("__gcum") - col("__qc") + lit(1L)).as("__gpmin"),
            col("__gtot").as("__gnt")): _*))
    }
    ranks.select(df.columns.map(col) :+
      when(col("__gnt") > 1,
        (col("__gpmin") - 1).cast("double") / (col("__gnt") - 1).cast("double"))
        .otherwise(lit(0.0d)).as(out): _*)
  }

  /**
   * Equal-count quantile bucketing (`ntile`): rows split into n buckets
   * of near-equal size per group — the discretizer behind quartile/
   * decile features and stratified downstream sampling. Unlike
   * [[percentRankScale]], ntile is ROW-position based: ties can land in
   * different buckets, so the ordering must be total (`tieBreak`) or
   * bucket assignment is partition-layout dependent. One window shuffle
   * per group set below [[RangeRank.useBucketed]]'s threshold; above it
   * the bucket is [[RangeRank.ntileOf]]'s closed form over the
   * distributed global rank — no per-key sort funnel.
   */
  def ntileBuckets(
      df: DataFrame, column: String, keys: Seq[String], n: Int,
      tieBreak: Seq[String], out: String = "bucket"): DataFrame = {
    require(n > 0, "ntileBuckets needs a positive bucket count")
    require(keys.nonEmpty,
      "ntileBuckets needs partition keys: an unkeyed rank window is a global single-partition funnel")
    require(tieBreak.nonEmpty,
      "ntileBuckets needs tie-break columns: ntile is row-position based and a non-total ordering is layout-dependent")
    if (!RangeRank.useBucketed(df)) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy((column +: tieBreak).map(col): _*)
      df.withColumn(out, ntile(n).over(w))
    } else {
      RangeRank.ranked(df, keys, column, tieBreak)
        .withColumn(out,
          RangeRank.ntileOf(col("__grn"), col("__gnt"), n).cast("int"))
        .drop("__grn", "__gnt")
    }
  }

  /**
   * Decile lift / gains table — the model-evaluation staple: rank rows
   * by a score, cut into n equal-count buckets (best scores = bucket
   * 1), and report each bucket's positive rate against the overall
   * rate. A useful model concentrates positives in the top buckets
   * (lift > 1). Counts are exact integers; rate and lift are each ONE
   * double division of exact ints (lift = bucket_pos·total / (bucket_n·
   * total_pos) would stay exact-rational, but the rate is wanted in the
   * output anyway, so both divide once). Zero-positive frames yield
   * NULL lift rather than 0/0. One rank window + one aggregation + one
   * broadcast totals row.
   *
   * With empty `keys` the rank window is GLOBAL — acceptable here by
   * design (a gains table is computed over an eval-sized scored frame,
   * the dowSeasonality bounded-safe precedent), keyed otherwise.
   */
  def decileLift(
      df: DataFrame, scoreCol: String, positive: Column, keys: Seq[String],
      n: Int, tieBreak: Seq[String]): DataFrame = {
    require(n > 0, "decileLift needs a positive bucket count")
    require(tieBreak.nonEmpty,
      "decileLift needs tie-break columns: ntile is row-position based")
    val bucketed0 =
      if (!RangeRank.useBucketed(df)) {
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(scoreCol).desc +: tieBreak.map(col(_).asc): _*)
        df.withColumn("__gb", ntile(n).over(w))
      } else {
        RangeRank.ranked(df, keys, scoreCol, tieBreak, desc = true)
          .withColumn("__gb",
            RangeRank.ntileOf(col("__grn"), col("__gnt"), n).cast("int"))
          .drop("__grn", "__gnt")
      }
    val bucketed = bucketed0
      .withColumn("__gp", when(positive, 1L).otherwise(0L))
    val cells = bucketed.groupBy((keys.map(col) :+ col("__gb")): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("__gp")).as("n_pos"))
    val totals =
      if (keys.isEmpty) {
        val t = cells.agg(sum(col("n_rows")).as("__gtn"), sum(col("n_pos")).as("__gtp"))
        cells.crossJoin(broadcast(t))
      } else {
        val wt = Window.partitionBy(keys.map(col): _*)
        cells.withColumn("__gtn", sum(col("n_rows")).over(wt))
          .withColumn("__gtp", sum(col("n_pos")).over(wt))
      }
    totals.select((keys.map(col) :+ col("__gb").as("bucket") :+
      col("n_rows") :+ col("n_pos") :+
      (col("n_pos").cast("double") / col("n_rows").cast("double")).as("pos_rate") :+
      when(col("__gtp") > 0,
        (col("n_pos") * col("__gtn")).cast("double") /
          (col("n_rows") * col("__gtp")).cast("double")).as("lift")): _*)
  }

  /**
   * Threshold literal for [[mixtureSample]]: an 8-hex-digit lowercase
   * string such that `md5(id).substr(0, 8) < threshold` keeps a
   * `w` fraction of uniformly-hashed ids. Weights ≥ 1 map to "g", which
   * every hex string sorts below (keep all); ≤ 0 maps to "00000000"
   * (keep none). Fixed-length lowercase hex compares lexicographically
   * exactly as the underlying 32-bit integer compares numerically.
   */
  def weightThresholdHex(w: Double): String =
    if (w >= 1.0) "g"
    else if (w <= 0.0) "00000000"
    else f"${math.round(w * 4294967296.0).min(0xffffffffL)}%08x"

  /**
   * Deterministic weighted mixture sampling: keep each row of source s
   * with probability weights(s), decided by the row's own id hash — no
   * RNG, no seed plumbing, identical output on any cluster, any engine
   * with the same md5, and any run (the property that makes training
   * mixtures reproducible and incrementally extendable: re-running on
   * a grown corpus keeps exactly the old rows plus new ones).
   *
   * Pure per-row filter — no shuffle, no join; the weight table folds
   * into a chained CASE expression.
   */
  def mixtureSample(
      df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], default: Double = 0.0): DataFrame = {
    val threshold = weights.toSeq.sortBy(_._1).foldLeft(null: Column) {
      case (acc, (s, w)) =>
        val branch = (col(sourceCol) === s, lit(weightThresholdHex(w)))
        if (acc == null) when(branch._1, branch._2) else acc.when(branch._1, branch._2)
    } match {
      case null => lit(weightThresholdHex(default))
      case c => c.otherwise(lit(weightThresholdHex(default)))
    }
    df.filter(idHashPrefix(idCol) < threshold)
  }

  /**
   * GPT-style sequence packing: concatenate every document's tokens in
   * id order into one global stream and cut it every `budget` tokens,
   * emitting the (document, sequence) spans — `doc_off`/`seq_off`/`len`
   * say which token slice of the document lands where in which
   * training sequence. Documents with zero tokens are dropped.
   *
   * The global running offset is a prefix sum over a total order —
   * computed WITHOUT a single-partition window, via the same
   * range-partition + per-partition rank + broadcast-offset scheme as
   * [[StarSchema.dimWithDenseKeyScalable]]: the only unpartitioned
   * window runs over the per-partition size frame (≤ shuffle
   * parallelism rows). Text is projected away before any exchange —
   * the two data shuffles (range, then pid for the running sum) move
   * (id, token-count) pairs only, and the sequence explode adds at
   * most (doc tokens / budget) + 1 rows per document.
   */
  def packSequences(
      df: DataFrame, idCol: String, tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "packSequences needs a positive token budget")
    val id = col(idCol)
    val ranged = df.select(id, tokens.cast("long").as("__gtok"))
      .filter(col("__gtok") > 0)
      .repartitionByRange(id)
      .withColumn("__gpid", spark_partition_id())
    val local = ranged.withColumn("__gcum",
      sum("__gtok").over(Window.partitionBy("__gpid").orderBy(id)))
    val offsets = local.groupBy("__gpid")
      .agg(sum("__gtok").as("__gsz"))
      .withColumn("__goff", coalesce(
        sum("__gsz").over(Window.orderBy("__gpid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__gpid", "__goff")
    val spans = local.join(broadcast(offsets), "__gpid")
      .withColumn("__gend", col("__goff") + col("__gcum"))
      .withColumn("__gstart", col("__gend") - col("__gtok"))
    spans
      .withColumn("seq_id", explode(sequence(
        expr(s"__gstart div $budget"), expr(s"(__gend - 1) div $budget"))))
      .withColumn("__gchunk", col("seq_id") * budget)
      .withColumn("__glo", greatest(col("__gstart"), col("__gchunk")))
      .withColumn("__ghi", least(col("__gend"), col("__gchunk") + budget))
      .select(
        id,
        col("seq_id"),
        (col("__glo") - col("__gstart")).as("doc_off"),
        (col("__glo") - col("__gchunk")).as("seq_off"),
        (col("__ghi") - col("__glo")).as("len"))
  }

  /** The cross-engine id-hash key every deterministic sampling operator
   *  shares: lowercase-hex md5 of the id's string form (DuckDB:
   *  md5(CAST(id AS VARCHAR))). One definition — three operators
   *  ([[mixtureSample]], [[sampleKPerGroup]], [[hashSplit]]) and their
   *  oracles must never drift apart on it. */
  private def idHash(idCol: String): Column = md5(col(idCol).cast("string"))

  /** 8-hex-digit prefix of [[idHash]], the form [[weightThresholdHex]]
   *  thresholds compare against. */
  private def idHashPrefix(idCol: String): Column = substring(idHash(idCol), 1, 8)

  /**
   * Deterministic k-per-group cap (per-source balancing — "at most k
   * documents from each source"): rank each group's rows by the md5 of
   * their id (id itself as the total tie-break) and keep the first k.
   * A uniform-without-replacement sample that any engine reproduces
   * from the same data — no RNG, no seed plumbing. One shuffle (the
   * group window); WindowGroupLimit prunes to ≤ k rows per group
   * map-side before the exchange, so the shuffle moves caps, not
   * groups.
   */
  def sampleKPerGroup(
      df: DataFrame, keys: Seq[String], idCol: String, k: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(k > 0, "sampleKPerGroup needs a positive k")
    // (hash(id), id) is total when ids are unique within a group;
    // DUPLICATE ids tie on both keys and which physical row survives
    // the cap would be partition-order dependent — callers with dup
    // ids must pass tieBreak columns that totalize the order
    val order = Seq(idHash(idCol), col(idCol)) ++ tieBreak.map(col)
    df.withColumn("__grank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__grank") <= k)
      .drop("__grank")
  }

  /**
   * Deterministic train/val/test split: a row's label is decided by
   * the md5 of its OWN id against cumulative fraction thresholds
   * ([[weightThresholdHex]]), so the assignment is reproducible on any
   * engine/partitioning AND stable under corpus growth — a document
   * never migrates between splits as data is added, the property that
   * keeps eval sets honest across dataset versions. Pure per-row CASE:
   * no shuffle, no join. The last split absorbs hash-rounding
   * remainder (its threshold is the open upper bound).
   */
  def hashSplit(
      df: DataFrame, idCol: String, splits: Seq[(String, Double)],
      out: String = "split"): DataFrame = {
    require(splits.nonEmpty, "hashSplit needs at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val h = idHashPrefix(idCol)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val labeled = splits.init.zip(cum.init).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), c)) =>
        val cond = h < lit(weightThresholdHex(c))
        Some(acc.fold(when(cond, label))(_.when(cond, label)))
    }
    val expr = labeled.fold(lit(splits.last._1))(_.otherwise(splits.last._1))
    df.withColumn(out, expr)
  }

  /**
   * Split leakage audit — the check that catches THE classic eval bug:
   * duplicate content straddling a train/test boundary ([[hashSplit]]
   * splits by id, so two copies of one text can land on different
   * sides). Per unordered split pair, the number of distinct content
   * fingerprints present in both — any non-zero row means the held-out
   * metric is contaminated and dedup must run BEFORE splitting.
   *
   * [[graft.operators.Curation.sourceOverlap]]'s shape on fingerprints:
   * distinct (split, fp) — one hash shuffle — then a self-join whose
   * per-fp fan-out is bounded by |splits| (≤ a handful), never by the
   * corpus. Exact counts.
   */
  def splitLeakage(
      df: DataFrame, splitCol: String, textCol: String): DataFrame = {
    val sf = df.select(col(splitCol).as("__gsplit"),
      md5(col(textCol)).as("__gfp")).distinct()
    val a = sf.select(col("__gsplit").as("split_a"), col("__gfp"))
    val b = sf.select(col("__gsplit").as("split_b"), col("__gfp"))
    a.join(b, Seq("__gfp"))
      .filter(col("split_a") < col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * Overlapping document chunking — the RAG/embedding-pipeline prep
   * step: slice each document into `chunkChars`-character windows whose
   * starts advance by `chunkChars - overlapChars`, so consecutive
   * chunks share `overlapChars` characters of context. Returns
   * (id, chunk_start, chunk); the final chunk may be shorter; empty
   * documents produce no chunks. Starts stop at len − overlap − 1: a
   * start inside the previous chunk's overlap region would emit a tail
   * chunk wholly CONTAINED in it — duplicate content that would embed/
   * train twice. Every chunk past the first carries ≥ 1 new character,
   * and coverage stays complete (a suppressed start's characters all
   * fit inside the previous window).
   *
   * Unlike [[packSequences]] (a GLOBAL stream cut needing a prefix
   * sum), chunking is per-row: one `sequence` + `explode`, no shuffle
   * at all — each document fans out into at most len/step + 1 rows on
   * its own partition. Char-based (`substr` semantics identical across
   * engines); a token-budget variant is `packSequences`.
   */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlapChars: Int): DataFrame = {
    require(chunkChars > 0, "chunkDocuments needs a positive chunk size")
    require(overlapChars >= 0 && overlapChars < chunkChars,
      "overlap must be in [0, chunkChars)")
    val step = chunkChars - overlapChars
    val text = col(textCol)
    df.filter(length(text) > 0) // sequence(0, -1) is an ANSI error
      .select(col(idCol),
        explode(sequence(lit(0),
          greatest(length(text) - overlapChars - 1, lit(0)), lit(step))).as("chunk_start"),
        text)
      .select(col(idCol),
        col("chunk_start").cast("long").as("chunk_start"),
        text.substr(col("chunk_start") + 1, lit(chunkChars)).as("chunk"))
  }

  /**
   * Leakage-safe lag feature generation for supervised training data:
   * `lag_N` columns plus trailing rolling means `mean_W` over the W
   * rows STRICTLY BEFORE the current row — the current value never
   * leaks into its own features, which is the whole point (a rolling
   * mean including the target row is target leakage). One window
   * partitioning serves every lag and frame; rolling sums go through
   * the exact-decimal detour ([[graft.operators.Relational.movingAvg]]'s
   * portability argument). `order` must be total.
   */
  def lagFeatures(
      df: DataFrame, keys: Seq[String], order: Seq[Column],
      valueCol: String, lags: Seq[Int], meanWindows: Seq[Int],
      scale: Int = 4): DataFrame = {
    require(lags.forall(_ >= 1) && meanWindows.forall(_ >= 1),
      "lags and windows must be >= 1")
    require(keys.nonEmpty,
      "lagFeatures needs partition keys: an unkeyed window is a global single-partition funnel")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val v = col(valueCol)
    val withLags = lags.foldLeft(df) { (acc, n) =>
      acc.withColumn(s"lag_$n", lag(v, n).over(w))
    }
    meanWindows.foldLeft(withLags) { (acc, win) =>
      val frame = w.rowsBetween(-win, -1)
      val n = count(v).over(frame)
      acc.withColumn(s"mean_$win",
        when(n > 0, sum(v.cast(s"decimal(18,$scale)")).over(frame).cast("double") / n))
    }
  }

  /**
   * Leave-one-out target encoding: each row's category encoded as the
   * mean target of the OTHER rows in its category —
   * `(Σ_cat − v) / (n_cat − 1)` — the high-cardinality-categorical
   * encoder that plain mean encoding leaks on (a row seeing its own
   * target memorizes it). Singleton categories get NULL (no other
   * rows to average; also dodges the ANSI 0-division).
   *
   * One shuffle (window by category; unbounded cardinality is fine —
   * it is a hash partition, not a collect). The subtraction happens in
   * exact decimals BEFORE the one double division, so the encoding is
   * order-independent and engine-portable.
   */
  def targetEncodeLOO(
      df: DataFrame, category: String, target: String,
      out: String = "target_enc", scale: Int = 4): DataFrame = {
    val w = Window.partitionBy(col(category))
    val dec = col(target).cast(s"decimal(18,$scale)")
    val n = count(dec).over(w)
    df.withColumn(out,
      when(n > 1, (sum(dec).over(w) - dec).cast("double") / (n - 1)))
  }

  /**
   * RFM (recency / frequency / monetary) scoring: collapse a
   * transaction table to one row per `entity`, then quintile each
   * dimension with `ntile` — the standard customer-value segmentation.
   * Scores run 1..n with n = best (most recent / most frequent /
   * highest spend), so ranking ASCENDING by each metric gives the
   * conventional orientation directly — no anchor-date arithmetic.
   *
   * Scale shape: the raw transactions aggregate down to entity grain
   * FIRST; the three ntile windows all partition by `keys` (score
   * within segment), so they share one exchange of the already-small
   * entity frame and parallelize across segments — an unkeyed global
   * ntile would funnel the frame through one partition (the q51
   * caveat; pass at least one segmentation key at scale).
   *
   * Exactness: the monetary ordering compares exact decimal sums, and
   * `ntile` tie behavior is irrelevant because every ordering ends in
   * the `entity` tie-break (total order). ntile semantics (first
   * n mod k buckets take the extra row) match across engines.
   */
  def rfmScores(
      df: DataFrame, entity: String, keys: Seq[String],
      tsCol: String, amountCol: String, n: Int = 5,
      scale: Int = 4): DataFrame = {
    require(n > 1, "rfmScores needs at least two buckets")
    require(keys.nonEmpty,
      "rfmScores needs segmentation keys: an unkeyed ntile funnels the entity frame through one partition")
    val per = df
      .groupBy((keys :+ entity).map(col): _*)
      .agg(max(col(tsCol)).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast(s"decimal(18,$scale)")).as("__gmon"))
    val base = Window.partitionBy(keys.map(col): _*)
    def score(order: Column) = ntile(n).over(base.orderBy(order, col(entity)))
    per
      .withColumn("r_score", score(col("last_ts")))
      .withColumn("f_score", score(col("frequency")))
      .withColumn("m_score", score(col("__gmon")))
      .withColumn("monetary", col("__gmon").cast("double"))
      .withColumn("rfm_cell", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .drop("__gmon")
  }

  /**
   * Feature hashing (the "hashing trick", Weinberger et al. 2009):
   * map each token to a fixed bucket in [0, nBuckets) by hashing, and
   * emit per-document bucket counts — a bounded-width sparse feature
   * representation that needs NO vocabulary pass, no dictionary
   * broadcast, and no retraining when new tokens appear. The output is
   * the exploded sparse form (id, bucket, cnt); pivoting to a dense
   * vector is a downstream choice.
   *
   * The bucket hash is the first 8 hex digits of md5 reduced mod
   * nBuckets — the library's engine-portable hash idiom ([[mixtureSample]],
   * hashSplit): Spark `conv(hex, 16, 10)` and DuckDB
   * `CAST('0x'||hex AS BIGINT)` parse the same 32-bit value exactly.
   * One explode + one map-side-combinable aggregation; zero joins,
   * zero driver state. Empty tokens are dropped.
   */
  def hashingTrick(
      docs: DataFrame, id: String, textCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "hashingTrick needs a positive bucket count")
    docs
      .select(col(id),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("__gtok"))
      .filter(col("__gtok") =!= "")
      .withColumn("bucket",
        (conv(substring(md5(col("__gtok")), 1, 8), 16, 10).cast("long")
          % nBuckets).cast("int"))
      .groupBy(col(id), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Exact ROC AUC via the Mann-Whitney rank statistic, computed over
   * the VALUE-AGGREGATED score distribution — never a global per-row
   * rank window. AUC = P(score⁺ > score⁻) + ½P(score⁺ = score⁻):
   * grouping rows by distinct score value into (pos, neg) counts, then
   * 2·U = Σ_v pos(v)·(2·cumneg(<v) + neg(v)) counts every
   * positive/negative pair won twice and every tied pair once — all
   * integer arithmetic, so the statistic is exact and
   * partition-order independent; the only float op is ONE final
   * division 2U / (2·n⁺·n⁻) in a fixed IEEE sequence.
   *
   * Scale shape: one map-side-combinable aggregation by score value,
   * then the cumulative window runs over the AGGREGATED frame
   * (|distinct scores| rows — the q115 ABC precedent), not the fact.
   * Products accumulate in DECIMAL: pair counts are N²-scale, past
   * int64 at fact cardinalities. Null scores are excluded (they rank
   * nowhere). Degenerate frames (no positives or no negatives) yield
   * NULL AUC, not 0/0. Returns one row (n_pos, n_neg, auc).
   * Counts stay exact-in-double below 2^53 rows per class.
   */
  def aucExact(df: DataFrame, scoreCol: String, positive: Column): DataFrame = {
    val cells = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__gs"))
      .agg(sum(when(positive, 1L).otherwise(0L)).as("__gp"),
        sum(when(positive, 0L).otherwise(1L)).as("__gn"))
    val below = Window.orderBy(col("__gs"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cells.withColumn("__gcn",
      coalesce(sum(col("__gn")).over(below), lit(0L)))
    cum.agg(
      sum(col("__gp")).as("n_pos"),
      sum(col("__gn")).as("n_neg"),
      sum(col("__gp").cast("decimal(18,0)") *
        (col("__gcn") * 2 + col("__gn")).cast("decimal(18,0)")).as("__gu2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          toD(col("__gu2")) /
            (lit(2.0d) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
  }

  /**
   * Spearman rank correlation with average-rank tie handling — the
   * monotone-association check between two columns (two quality
   * scorers, a heuristic vs a model) that Pearson's linearity
   * assumption gets wrong. Per-row ranks are NEVER computed with a
   * global row window: each column's average rank is a closed form
   * over its value-aggregated counts — avgrank(v) = cum(<v) +
   * (cnt(v)+1)/2 — kept integral as 2·rank, joined back to the rows by
   * value (an ordinary hash shuffle both engines replay), then Pearson
   * runs on the doubled ranks through exact decimal moments
   * ([[graft.functions.Exact.decCorr]]'s contract; products are
   * N³-scale so factors cast to DECIMAL(18,0) before multiplying).
   * The closed-form combination is a fixed IEEE sequence; zero-variance
   * columns (all one value) yield NULL. Returns one row
   * (n, rho). Both-null-free rows only.
   */
  def spearmanRho(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__gx"), col(yCol).as("__gy"))
    def rankMap(c: String, out: String): DataFrame = {
      val cells = base.groupBy(col(c)).agg(count(lit(1)).as("__gcnt"))
      // doubled average rank from the PEER-INCLUSIVE running count:
      // cells are distinct values, so cumBelow = cumIncl − cnt and
      // 2·cumBelow + cnt + 1 = 2·cumIncl − cnt + 1 — exact integers
      // either way. Routed through RangeRank so the keyless running
      // sum distributes past the size gates instead of funnelling the
      // whole value frame into one window task (round-13 verdict
      // item 8); below the gates RangeRank keeps the single-window
      // plan this replaced.
      RangeRank.ranked(cells, Nil, c,
          extras = RangeRank.Extras(rangeSums = Seq((col("__gcnt"), "__gcum"))))
        .select(col(c),
          (col("__gcum") * 2 - col("__gcnt") + 1).as(out))
    }
    val ranked = base
      .join(rankMap("__gx", "__gr2x"), "__gx")
      .join(rankMap("__gy", "__gr2y"), "__gy")
    val dx = col("__gr2x").cast("decimal(18,0)")
    val dy = col("__gr2y").cast("decimal(18,0)")
    val sums = Exact.Moments.sums(dx, dy).columns("n")
    val mm = Exact.Moments.named(col("n").cast("double"), toD)
    ranked.agg(sums.head, sums.tail: _*)
      .select(col("n"), when(mm.varX > 0 && mm.varY > 0, mm.corr).as("rho"))
  }

  /**
   * Exact two-sample Kolmogorov-Smirnov statistic — the standard
   * distribution-drift test between two score samples (train vs
   * holdout, last week vs this week). D = max_v |F_A(v) − F_B(v)| is
   * computed WITHOUT floats: at each distinct value the numerator
   * |cumA·n_B − cumB·n_A| is exact integer (DECIMAL — products are
   * N²-scale), the max is taken over exact values, and the single
   * division by n_A·n_B runs once at the end in a fixed IEEE sequence.
   * Same scale shape as [[aucExact]]: one aggregation by value, a
   * cumulative window over the aggregated frame only, one broadcast
   * totals row. Null scores excluded; an empty side yields NULL.
   * Returns one row (n_a, n_b, ks).
   */
  def ksStatistic(df: DataFrame, scoreCol: String, inA: Column): DataFrame = {
    val cells = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__gs"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("__ga"),
        sum(when(inA, 0L).otherwise(1L)).as("__gb"))
    val upto = Window.orderBy(col("__gs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.select(
      sum(col("__ga")).over(upto).as("__gca"),
      sum(col("__gb")).over(upto).as("__gcb"))
    val totals = cum.agg(max(col("__gca")).as("n_a"), max(col("__gcb")).as("n_b"))
    val dNum = cum.crossJoin(broadcast(totals))
      .agg(max(abs(col("__gca").cast("decimal(18,0)") * col("n_b").cast("decimal(18,0)") -
        col("__gcb").cast("decimal(18,0)") * col("n_a").cast("decimal(18,0)"))).as("__gd"))
    totals.crossJoin(broadcast(dNum))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          toD(col("__gd")) /
            (col("n_a").cast("double") * col("n_b").cast("double"))).as("ks"))
  }

  /**
   * Welch's two-sample t statistic per key — "did the mean move?"
   * between two cohorts (A/B arms, this week vs last) WITHOUT the
   * equal-variance assumption, the means-counterpart of the q142
   * Wilson-interval proportions readout. Per key: both cohorts' exact
   * decimal moments in ONE aggregation (conditional sums — no second
   * scan, no join), then t = (m̄_a − m̄_b)/√(s²_a/n_a + s²_b/n_b) with
   * sample variances, all in one fixed IEEE sequence (√ is correctly
   * rounded). Keys where either side has < 2 rows or zero variance on
   * both sides yield NULL. Null values belong to no cohort.
   *
   * The statistic is reported WITHOUT a p-value: Welch–Satterthwaite
   * degrees of freedom feed a t CDF no SQL engine evaluates portably —
   * consumers threshold |t| (|t| > 1.96 ≈ 5% for large n), which needs
   * no special function.
   */
  def welchT(
      df: DataFrame, keys: Seq[String], valueCol: String,
      inA: Column): DataFrame = {
    require(keys.nonEmpty, "welchT needs grouping keys")
    val v = col(valueCol).cast("decimal(14,4)")
    val va = when(inA && col(valueCol).isNotNull, v)
    val vb = when(!inA && col(valueCol).isNotNull, v)
    val m = df.groupBy(keys.map(col): _*).agg(
      count(va).as("n_a"), count(vb).as("n_b"),
      sum(va).as("__gsa"), sum(vb).as("__gsb"),
      sum(va * va).as("__gsaa"), sum(vb * vb).as("__gsbb"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val Seq(sa, sb, saa, sbb) =
      Seq("__gsa", "__gsb", "__gsaa", "__gsbb").map(c => toD(col(c)))
    val ma = sa / na
    val mb = sb / nb
    // sample variance via the moment form, clamped at 0 (the q75
    // constant-group ulp-residue contract)
    val vva = greatest(Exact.Moments.univariate(na, sa, saa).varX, lit(0d)) / (na * (na - 1))
    val vvb = greatest(Exact.Moments.univariate(nb, sb, sbb).varX, lit(0d)) / (nb * (nb - 1))
    val se = sqrt(vva / na + vvb / nb)
    m.select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
      when(col("n_a") >= 2 && col("n_b") >= 2,
        when(se > 0, (ma - mb) / se)).as("t_stat")): _*)
  }

  /**
   * Within-group percentile normalization: each row's score becomes its
   * cumulative share inside its group (`cume_dist` — the exact rational
   * count-≤ / count-total, value-deterministic under ties). The cross-
   * source calibration trick: a single global threshold on the
   * percentile then keeps "the top X% OF EACH SOURCE" even when raw
   * score scales differ wildly between sources. One per-key window, no
   * joins; keys are required (the q51/q53 funnel-guard precedent).
   * Null scores order differently across engines — filter them first.
   */
  def percentileNormalize(
      df: DataFrame, keys: Seq[String], scoreCol: String,
      out: String = "pct"): DataFrame = {
    require(keys.nonEmpty,
      "percentileNormalize needs partition keys: an unkeyed window is a global single-partition funnel")
    df.withColumn(out, cume_dist().over(
      Window.partitionBy(keys.map(col): _*).orderBy(col(scoreCol))))
  }

  /**
   * Calibration / reliability bins: cut the score axis into `nBins`
   * FIXED-WIDTH bins over [lo, hi) and report each bin's exact count
   * and positive rate — the table behind a reliability diagram ("when
   * the model says 0.8, is it right 80% of the time?"). Fixed edges
   * (not quantiles) keep the operator one aggregation with no window
   * at all, and make bins comparable across runs/days.
   *
   * Determinism: bin = clamp(floor((s−lo)/w)) and bin_lo = lo + bin·w
   * are fixed double sequences both engines replay identically (w is
   * the same literal division); counts are exact; pos_rate is one
   * division. Scores outside [lo, hi] clamp into the edge bins (a
   * drifted score still lands somewhere visible); null scores drop.
   * Empty-range/degenerate input yields zero rows, never 0/0.
   */
  def calibrationBins(
      df: DataFrame, scoreCol: String, positive: Column,
      nBins: Int, lo: Double, hi: Double): DataFrame = {
    require(nBins > 0 && hi > lo, "calibrationBins needs nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    val raw = floor((col(scoreCol) - lit(lo)) / lit(w)).cast("int")
    val bin = least(greatest(raw, lit(0)), lit(nBins - 1))
    df.filter(col(scoreCol).isNotNull)
      .groupBy(bin.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(positive, 1L).otherwise(0L)).as("n_pos"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * lit(w)).as("bin_lo"),
        col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"))
  }

  /**
   * Cohen's kappa from a confusion-matrix frame (true label, predicted
   * label, count) — chance-corrected agreement, the standard check that
   * a labeler (q171's k-NN, a weak-supervision rule, a second annotator)
   * beats majority-class guessing. kappa = (po − pe) / (1 − pe) with
   * po = trace/N and pe = Σ_label rowTotal·colTotal / N².
   *
   * Exactness: N, trace, and every marginal are exact integers; the
   * marginal products accumulate in DECIMAL (they are N²-scale, past
   * int64 at fact cardinalities), and the three divisions run in ONE
   * fixed IEEE sequence both engines replay identically (the q142
   * Wilson-interval contract). Perfect chance agreement (pe = 1) yields
   * NULL, not 0/0. The confusion frame is |labels|² rows, so every
   * aggregate here is bounded — the heavy lifting happened upstream.
   * Returns one row: (n, po, pe, kappa).
   */
  def cohensKappa(
      confusion: DataFrame, trueCol: String, predCol: String,
      nCol: String): DataFrame = {
    val totals = confusion.agg(
      sum(col(nCol)).as("n"),
      sum(when(col(trueCol) === col(predCol), col(nCol)).otherwise(0L))
        .as("__gtrace"))
    val rows = confusion.groupBy(col(trueCol).as("__glab"))
      .agg(sum(col(nCol)).cast("decimal(18,0)").as("__grt"))
    val cols = confusion.groupBy(col(predCol).as("__glab"))
      .agg(sum(col(nCol)).cast("decimal(18,0)").as("__gct"))
    val peNum = rows.join(cols, "__glab")
      .agg(sum(col("__grt") * col("__gct")).as("__gpe"))
    val po = col("__gtrace").cast("double") / col("n").cast("double")
    val pe = toD(col("__gpe")) /
      (col("n").cast("double") * col("n").cast("double"))
    totals.crossJoin(broadcast(peNum))
      .withColumn("po", po)
      .withColumn("pe", pe)
      .withColumn("kappa",
        when(col("pe") < 1.0d, (col("po") - col("pe")) / (lit(1.0d) - col("pe"))))
      .select(col("n"), col("po"), col("pe"), col("kappa"))
  }

  /**
   * Deterministic weighted sampling without replacement per stratum
   * (Efraimidis-Spirakis A-Res): rank rows by the exponential jitter
   * −ln(u)/w ascending (equivalent to taking the largest u^(1/w) keys)
   * and keep the first `k` of each stratum — heavier rows
   * proportionally likelier, yet the draw replays bit-identically on
   * any cluster because u comes from the row's md5 image, not an RNG
   * (the q103 hash-split precedent for "random but reproducible").
   * The mixture-construction primitive when quotas must respect a
   * weight (token counts, quality scores), where [[stratifiedSample]]'s
   * uniform draw cannot.
   *
   * Determinism: u = (first-8-hex-digits + 0.5) / 2³² is an exact
   * rational (the +0.5 keeps u strictly inside (0,1) — ln(0) can never
   * fire); the jitter's ln routes through FLOAT before ORDERING (the
   * q70 contract: rank on the float image so libm ulp noise collapses
   * identically), with the id as total-order tie-break. Non-positive
   * and null weights drop — a zero weight must never be drawn.
   */
  def weightedSample(
      df: DataFrame, strata: Seq[String], idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, "weightedSample needs k > 0")
    require(strata.nonEmpty,
      "weightedSample needs strata keys: an unkeyed window is a global single-partition funnel")
    val v = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    val u = (v.cast("double") + lit(0.5d)) / lit(4294967296.0d)
    val priority = (-log(u) / col(weightCol).cast("double")).cast("float")
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(priority.asc, col(idCol).asc)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__grn", row_number().over(w))
      .filter(col("__grn") <= k)
      .drop("__grn")
  }

  /**
   * Population Stability Index bins between two cohorts of one score
   * column — THE production drift alarm: bin the score on FIXED edges
   * (comparable across runs, one aggregation, no quantile pass), then
   * per bin report both cohorts' counts and the PSI term
   * (pA − pB)·ln(pA/pB). Σterms < 0.1 is conventionally "stable",
   * > 0.25 "investigate"; the per-bin table says WHERE the mass moved,
   * which the scalar alone never does.
   *
   * Determinism: bins replay [[calibrationBins]]'s fixed double
   * sequence; counts are exact; proportions are Laplace-smoothed
   * (n+1)/(N+nBins) — exact-int inputs to ONE division, so empty bins
   * contribute a finite, engine-identical term instead of ln(0). The
   * ln output routes through FLOAT (the q70 tf-idf precedent: libm ln
   * is not correctly rounded, and the float image absorbs the ulp).
   * Every bin 0..nBins−1 appears — the grid comes from a one-row
   * aggregate, not the data, so a cohort draining out of a bin is
   * visible rather than silently absent. Null scores drop.
   *
   * Scale: one conditional aggregation over the fact (map-side
   * combinable to ≤nBins rows) + one broadcast of the one-row totals —
   * no window, no shuffle beyond the aggregate's own exchange.
   */
  def psi(
      df: DataFrame, scoreCol: String, inA: Column,
      nBins: Int, lo: Double, hi: Double): DataFrame = {
    require(nBins > 0 && hi > lo, "psi needs nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    val raw = floor((col(scoreCol) - lit(lo)) / lit(w)).cast("int")
    val bin = least(greatest(raw, lit(0)), lit(nBins - 1))
    val counts = df.filter(col(scoreCol).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(when(inA, 1)).as("n_a"), count(when(!inA, 1)).as("n_b"))
    // full bin grid from a one-row aggregate: empty bins must appear
    val grid = df.agg(count(lit(1)).as("__gn"))
      .select(explode(sequence(lit(0), lit(nBins - 1))).as("bin"))
    val filled = grid.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = filled.agg(sum(col("n_a")).as("__gta"), sum(col("n_b")).as("__gtb"))
    val pA = (col("n_a") + 1).cast("double") /
      (col("__gta") + nBins).cast("double")
    val pB = (col("n_b") + 1).cast("double") /
      (col("__gtb") + nBins).cast("double")
    filled.crossJoin(broadcast(totals))
      .select(col("bin"),
        (lit(lo) + col("bin") * lit(w)).as("bin_lo"),
        col("n_a"), col("n_b"),
        ((pA - pB) * log(pA / pB)).cast("float").as("psi_term"))
  }

  /**
   * Class-balanced downsample: from each class, exactly
   * min-class-count rows, chosen by the md5-jittered deterministic
   * draw ([[hashSplit]]'s q175 contract — replays bit-identically on
   * any cluster, no RNG) — the imbalanced-label fix an evaluation or
   * fine-tuning set takes when the majority class would otherwise
   * drown the loss. Complementary to [[weightedSample]] (quota by
   * weight) and the uniform stratified draw (fixed FRACTION per
   * stratum): here the quota is the SAME absolute count everywhere,
   * discovered from the data.
   *
   * Shape: one count aggregation (≤\|classes\| rows) whose MIN is one
   * of the sanctioned bounded agg-to-literal driver scalars (the
   * median/centroid convention) — as a LITERAL, the rank filter
   * rewrites to WindowGroupLimit and prunes map-side, which a
   * column-bound comparison never does — then one rank window per
   * class ordered by (md5 hex, id) (total order: the hash jitter,
   * then the id tiebreak). One shuffle on the class key.
   */
  /**
   * Stratified split with EXACT per-class proportions: within each
   * class, rows rank by the md5 jitter (+ id tiebreak) and cut at
   * ⌊n·f⌋ boundaries — unlike [[hashSplit]]'s global thresholds
   * (correct ratios only in expectation), every class lands its train/
   * val/test counts exactly, which is what a small-minority-class eval
   * set needs. Deterministic: the draw replays bit-identically (q175
   * contract); boundaries are ⌊exact-int · literal⌋ in one IEEE
   * multiply each.
   *
   * One shuffle on the class key: the rank window and the per-class
   * count window share the same partitioning.
   */
  /**
   * Logistic regression by batch gradient descent with a FIXED
   * iteration count — the linear-model primitive behind quality
   * classifiers and propensity scores, expressed so every weight
   * vector replays bit-identically in an external engine (the
   * q209/q224/q228 unrolled-SQL contract). Returns one (feature,
   * weight) row per coefficient, `bias` first.
   *
   * Determinism, by induction over iterations: w₀ = 0 exactly; each
   * row's sigmoid σ(w·x) collapses to its FLOAT image (a ≤1-ulp
   * cross-libm `exp` wobble is far below float precision); every
   * gradient term (σ−y)·x_j absorbs to a FLOAT image and sums via
   * DECIMAL(28,18) strings (q197 order-free contract); the mean
   * gradient and the weight update are fixed IEEE sequences over
   * string-detoured sums. The label is 0/1 exact; features should be
   * modest-magnitude doubles (standardize first).
   *
   * Scale: ONE persisted pass frame; per iteration one crossJoin with
   * the broadcast 1-row weight frame and one map-side-combinable
   * aggregation — no driver-side math beyond plan literals.
   */
  def logisticGd(
      df: DataFrame, features: Seq[(String, Column)], label: Column,
      lr: Double, iters: Int): DataFrame =
    logisticGd(logisticWeights(df, features, label, lr, iters),
      features.map(_._1))

  /** [[logisticGd]]'s (feature, weight) rows off an ALREADY-TRAINED
   *  weights frame ([[logisticWeights]] output, 1 row of
   *  `__gw0..__gwK`): callers that need the readable weights AND an
   *  evaluation (q237+q238) pay for the GD passes once — the
   *  shared-stage factoring of [[logisticEval]]'s weights overload. */
  def logisticGd(wdf: DataFrame, featureNames: Seq[String]): DataFrame = {
    val k = featureNames.size
    val names = "bias" +: featureNames
    wdf.select(explode(array((0 to k).map { j =>
      struct(lit(names(j)).as("feature"), col(s"__gw$j").as("weight"))
    }: _*)).as("__gf"))
      .select(col("__gf.feature").as("feature"), col("__gf.weight").as("weight"))
  }

  /** The trained 1-row weight frame behind [[logisticGd]] /
   *  [[logisticEval]]: columns `__gw0..__gwK`. */
  def logisticWeights(
      df: DataFrame, features: Seq[(String, Column)], label: Column,
      lr: Double, iters: Int): DataFrame = {
    require(features.nonEmpty && iters >= 1,
      "logisticGd needs at least one feature and iters >= 1")
    val k = features.size
    val sel = df.select(
      features.zipWithIndex.map { case ((_, c), i) => c.as(s"__gx${i + 1}") } :+
        label.cast("double").as("__gy"): _*)
    // spread the cached pass frame across the cores: a small input scan
    // yields a handful of splits (3 at bench scale) and the persist
    // freezes that layout, so EVERY per-iteration gradient pass ran on
    // 3 of 32 cores (profiled: 3 × ~1.8 s jobs with 3 tasks). Round-
    // robin is safe here — the scan input is deterministic and
    // sort-before-repartition reproduces placement under retries — and
    // the decimal gradient sums are order-free, so placement cannot
    // change the result. Clamped to the [cores, 16× cores] envelope;
    // an already-wider frame keeps its width.
    val cores = sel.sparkSession.sparkContext.defaultParallelism
    val parts = Gates.width(cores, sel.rdd.getNumPartitions, 1L, cores)
    // the pass frame is dead once the final weights are checkpointed:
    // the scope releases it on return (callers like logisticEval
    // re-project their own pass frame)
    graft.Caches.scoped { scope =>
      val data = scope.persist(sel.repartition(parts))
      var wdf = data.sparkSession.range(1)
        .select((0 to k).map(j => lit(0.0).as(s"__gw$j")): _*)
      val roller = scope.roller()
      (1 to iters).foreach { _ =>
        val z = (1 to k).foldLeft(col("__gw0")) { (acc, j) =>
          acc + col(s"__gw$j") * col(s"__gx$j")
        }
        val sig = (lit(1.0) / (lit(1.0) + exp(-z))).cast("float").cast("double")
        val grads = (0 to k).map { j =>
          val xj = if (j == 0) lit(1.0) else col(s"__gx$j")
          (toD(sum(absorb((sig - col("__gy")) * xj))) /
            count(lit(1)).cast("double")).as(s"__gg$j")
        }
        val g = data.crossJoin(broadcast(wdf)).agg(grads.head, grads.tail: _*)
        // localCheckpoint truncates the iteration lineage (the q59/q62
        // rule): an unpersisted weight chain would replay EVERY previous
        // iteration's full-data gradient pass per consumer; the roller
        // releases each superseded weight generation (CacheHygieneSpec)
        wdf = roller.roll(wdf.crossJoin(broadcast(g)).select(
          (0 to k).map(j =>
            (col(s"__gw$j") - lit(lr) * col(s"__gg$j")).as(s"__gw$j")): _*)).df
        roller.advance()
      }
      wdf
    }
  }

  /**
   * Evaluation of [[logisticGd]]'s model on its training frame:
   * accuracy at the 0.5 threshold (exact counts over engine-identical
   * float-image scores) and mean log-loss (each −[y·ln σ + (1−y)·
   * ln(1−σ)] float-absorbed + DECIMAL(28,18)-summed, one division) —
   * one row: (n, accuracy, logloss).
   *
   * The log arguments are clamped into [1e-7, 1−1e-7] (one IEEE
   * subtraction + greatest/least on the float-image score — identical
   * in any engine): a saturated sigmoid would otherwise hit ln(0),
   * where Spark's non-ANSI log returns NULL (the term silently drops
   * from the sum while count(*) still divides) and DuckDB's ln errors
   * — diverging engines exactly when the model is most confident.
   * The clamp caps a saturated term's loss at ~16.1 nats; accuracy
   * uses the UNCLAMPED score (the clamp never crosses 0.5).
   */
  def logisticEval(
      df: DataFrame, features: Seq[(String, Column)], label: Column,
      lr: Double, iters: Int): DataFrame =
    logisticEval(df, features, label,
      logisticWeights(df, features, label, lr, iters))

  /** [[logisticEval]] against an ALREADY-TRAINED weights frame
   *  ([[logisticWeights]] output, 1 row of `__gw0..__gwK`): callers
   *  that need weights AND evaluation (q237+q238) pay for the GD
   *  passes once — the shared-stage factoring of
   *  [[graft.operators.Similarity.pcaProject]]/`kmeansQuality` applied
   *  to the linear-model family. */
  def logisticEval(
      df: DataFrame, features: Seq[(String, Column)], label: Column,
      wdf: DataFrame): DataFrame = {
    val k = features.size
    val data = df.select(
      features.zipWithIndex.map { case ((_, c), i) => c.as(s"__gx${i + 1}") } :+
        label.cast("double").as("__gy"): _*)
    val z = (1 to k).foldLeft(col("__gw0")) { (acc, j) =>
      acc + col(s"__gw$j") * col(s"__gx$j")
    }
    val sig = (lit(1.0) / (lit(1.0) + exp(-z))).cast("float").cast("double")
    // clamp BEFORE the logs (see Scaladoc): ln(0) is NULL in Spark but
    // an error in DuckDB — both literals and the clamp ops are exact
    // IEEE, so the clamped score stays engine-identical
    val sigC = greatest(least(col("__gsig"), lit(1.0) - lit(1e-7)), lit(1e-7))
    val ll = -(col("__gy") * log(sigC) +
      (lit(1.0) - col("__gy")) * log(lit(1.0) - sigC))
    data.crossJoin(broadcast(wdf))
      .withColumn("__gsig", sig)
      .agg(count(lit(1)).as("n"),
        (sum(when((col("__gsig") >= 0.5) === (col("__gy") === 1.0), 1L))
          .cast("double") / count(lit(1)).cast("double")).as("accuracy"),
        (toD(sum(absorb(ll))) / count(lit(1)).cast("double")).as("logloss"))
  }

  /**
   * Group-integrity k-fold assignment: every row of a GROUP (a domain,
   * a near-dup cluster, a user) lands in the SAME fold — the
   * cross-validation constructor whose absence is exactly what
   * q200's split-leakage audit catches (row-level folds leak
   * near-identical group members across train/eval). Fold =
   * md5(group) mod k: deterministic (q175 contract), no RNG,
   * group-count balanced in expectation.
   *
   * Zero shuffles: fold assignment is a per-row hash expression; the
   * group key never aggregates.
   */
  def groupKFold(
      df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, "groupKFold needs k >= 2")
    df.withColumn("fold",
      (conv(substring(md5(col(groupCol).cast("string")), 1, 8), 16, 10)
        .cast("long") % k).cast("int"))
  }

  def stratifiedSplit(
      df: DataFrame, classCol: String, id: String,
      trainFrac: Double, valFrac: Double): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "stratifiedSplit needs 0 < trainFrac, 0 <= valFrac, trainFrac + valFrac < 1")
    val byClass = Window.partitionBy(col(classCol))
    val rn = row_number().over(byClass
      .orderBy(substring(md5(col(id).cast("string")), 1, 8), col(id)))
    val n = count(lit(1)).over(byClass)
    df.withColumn("__grn", rn).withColumn("__gn", n)
      .withColumn("split",
        when(col("__grn") <= floor(col("__gn") * lit(trainFrac)), "train")
          .when(col("__grn") <= floor(col("__gn") * lit(trainFrac + valFrac)), "val")
          .otherwise(lit("test")))
      .drop("__grn", "__gn")
  }

  def balancedSample(
      df: DataFrame, classCol: String, id: String): DataFrame = {
    val kMin = df.groupBy(col(classCol)).agg(count(lit(1)).as("__gn"))
      .agg(min(col("__gn")).as("__gk"))
      .head().getLong(0)
    val rn = row_number().over(
      Window.partitionBy(col(classCol))
        .orderBy(substring(md5(col(id).cast("string")), 1, 8), col(id)))
    df.withColumn("__grn", rn)
      .filter(col("__grn") <= lit(kMin))
      .drop("__grn")
  }
}
