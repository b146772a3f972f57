package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Features, Gates, RangeRank, Relational}

/**
 * The RangeRank contract: the bucketed distributed-rank path must
 * reproduce the single-window path BIT-FOR-BIT for every consumer —
 * same rows, same schema, same double bits — on tie-heavy, null-heavy,
 * null-keyed, and singleton-group data. The bucketed path is forced by
 * dropping the size threshold to 0 via `graft.rank.rangeBytes`; the
 * window path is the default at test scale.
 */
class RangeRankSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with the bucketed path forced on, restoring the conf. */
  private def forcedBucketed[T](body: => T): T = {
    spark.conf.set("graft.rank.rangeBytes", "0")
    try body finally spark.conf.unset("graft.rank.rangeBytes")
  }

  /** Force the LEAF-rows clause down so spec-sized frames count as
   *  genuinely large: the persist + shrink probe (and the plan split
   *  they guard) key on this clause, not the byte gate. Bodies that
   *  persist must still clean up — callers pair this with a
   *  try/finally clearCache so a failing assert cannot leak the cached
   *  projection into later suites (CacheHygieneSpec audits a clean
   *  session). */
  private def forcedBigScan[T](body: => T): T = {
    spark.conf.set("graft.rank.rangeRows", "100")
    try body finally {
      spark.conf.unset("graft.rank.rangeRows")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** Canonical multiset of rows with double bits made exact. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          case null => "null"
          case d: java.lang.Double =>
            java.lang.Double.doubleToLongBits(d).toString
          case x => String.valueOf(x)
        }
      }.mkString("|")
    }.sorted.toSeq
  }

  private def assertSame(window: => DataFrame, bucketed: => DataFrame): Unit = {
    val w = window
    val b = forcedBucketed(bucketed)
    assert(w.schema.map(f => (f.name, f.dataType)).sortBy(_._1) ==
      b.schema.map(f => (f.name, f.dataType)).sortBy(_._1),
      "schemas differ between paths")
    val (cw, cb) = (canon(w), canon(b))
    assert(cw.size == cb.size, s"row counts differ: ${cw.size} vs ${cb.size}")
    cw.zip(cb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  window   $x\n  bucketed $y")
    }
  }

  // tie-heavy, null-valued, null-keyed, singleton-grouped fixture
  private lazy val messy: DataFrame = Seq[(String, Option[Double], Long)](
    ("a", Some(1.0), 1), ("a", Some(2.5), 2), ("a", Some(2.5), 3),
    ("a", Some(2.5), 4), ("a", Some(-3.25), 5), ("a", None, 6),
    ("b", Some(0.2), 7), ("b", Some(0.2), 8), ("b", Some(0.1), 9),
    ("b", Some(0.4), 10), ("b", Some(0.7), 11),
    ("c", Some(42.0), 12),
    (null, Some(5.0), 13), (null, Some(5.0), 14), (null, Some(7.0), 15),
    ("d", None, 16), ("d", None, 17)).toDF("k", "v", "id")
    .withColumn("wgt", (col("id") % 3 + 1).cast("double"))
    .repartition(5)

  // dense pseudo-random frame: duplicates, a heavy mode, nulls, 7 keys
  private lazy val dense: DataFrame = spark.range(3000).select(
    (col("id") % 7).cast("string").as("k"),
    when(col("id") % 97 === 0, lit(null).cast("double"))
      .when(col("id") % 13 === 0, lit(2.5))
      .otherwise(round(sin(col("id").cast("double")) * 50, 1)).as("v"),
    col("id"),
    (col("id") % 5 + 1).cast("double").as("wgt"))
    .repartition(11)

  test("ranked: bucketed == window on rank/count/peer/dense/range-sums extras") {
    val extras = RangeRank.Extras(
      rangeSums = Seq(col("wgt").cast("decimal(18,4)") -> "cumw"),
      keyTotals = Seq(col("wgt").cast("decimal(18,4)") -> "totw"),
      peerMinAs = Some("pmin"), peerMaxAs = Some("pmax"),
      denseAs = Some("dns"))
    // __grn itself is tie-arbitrary; compare only the tie-invariant
    // outputs (the consumer contract)
    def run(df: DataFrame) = RangeRank
      .ranked(df, Seq("k"), "v", extras = extras)
      .select(col("k"), col("v"), col("id"), col("__gnt"), col("pmin"),
        col("pmax"), col("dns"),
        // decimal widths differ between paths by design; value-compare
        col("cumw").cast("decimal(38,4)").as("cumw"),
        col("totw").cast("decimal(38,4)").as("totw"))
    assertSame(run(dense), run(dense))
    assertSame(run(messy), run(messy))
  }

  test("ranked: keyless and desc orders agree across paths") {
    def run(df: DataFrame) = RangeRank
      .ranked(df, Nil, "v", tieBreak = Seq("id"), desc = true)
    // total order (tieBreak) makes __grn itself comparable
    assertSame(run(dense), run(dense))
    assertSame(run(messy), run(messy))
  }

  test("ntileOf matches ntile() for every bucket count and group size") {
    val n = 7
    val df = spark.range(1, 60).select(col("id").as("sz"))
      .collect().map(_.getLong(0)).toSeq
    df.foreach { sz =>
      val rows = spark.range(1, sz + 1).select(col("id").as("rn"), lit(sz).as("nt"))
      val got = rows.select(col("rn"),
        RangeRank.ntileOf(col("rn"), col("nt"), n).as("b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = spark.range(1, sz + 1)
        .select(col("id"), ntile(n).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("id"))).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got == want, s"ntile mismatch at group size $sz")
    }
  }

  test("percentRankScale: bucketed == window (ties share ranks, singletons 0.0)") {
    def run(df: DataFrame) = Features.percentRankScale(df, "v", Seq("k"))
    assertSame(run(messy), run(messy))
    assertSame(run(dense), run(dense))
  }

  test("percentRankScale picks the regime by distinct shrink: aggregated vs direct") {
    // tie-heavy (shrink ~43): the rank must run over the value-aggregated
    // frame (__qc counts) and join back; near-unique (shrink ~1): the
    // aggregate + join-back is strictly more work than ranking the fact,
    // so the plan must rank DIRECTLY (no __qc, peer-min recomposition).
    // The shrink probe runs only on a genuinely large input, so both
    // plans force the leaf-rows clause down too.
    val tieHeavy = spark.range(3000).select(
      (col("id") % 7).cast("string").as("k"),
      (col("id") % 10).cast("double").as("v"), col("id"))
    val nearUnique = spark.range(3000).select(
      (col("id") % 7).cast("string").as("k"),
      col("id").cast("double").as("v"), col("id"))
    def run(df: DataFrame) = Features.percentRankScale(df, "v", Seq("k"))
    assertSame(run(tieHeavy), run(tieHeavy))
    assertSame(run(nearUnique), run(nearUnique))
    val aggPlan = forcedBucketed(forcedBigScan(
      run(tieHeavy).queryExecution.optimizedPlan.toString))
    assert(aggPlan.contains("__qc"),
      s"tie-heavy input must take the value-aggregated path, got:\n$aggPlan")
    val directPlan = forcedBucketed(forcedBigScan(
      run(nearUnique).queryExecution.optimizedPlan.toString))
    // the __gpmin alias inlines under projection collapse; the cell-local
    // peer-min (__glpmin) is the surviving marker of the direct rank
    assert(!directPlan.contains("__qc") && directPlan.contains("__glpmin"),
      s"near-unique input must rank the fact directly, got:\n$directPlan")
  }

  test("ntileBuckets and quantileBins: bucketed == window, keyed and keyless") {
    def runN(df: DataFrame) = Features.ntileBuckets(df, "v", Seq("k"), 4, Seq("id"))
    def runQ(df: DataFrame) = Relational.quantileBins(df, "v", Seq("k"), 10, Seq("id"))
    def runQ0(df: DataFrame) = Relational.quantileBins(df, "v", Nil, 10, Seq("id"))
    assertSame(runN(dense), runN(dense))
    assertSame(runQ(dense), runQ(dense))
    assertSame(runQ0(dense), runQ0(dense))
    assertSame(runN(messy), runN(messy))
  }

  test("decileLift: bucketed == window on the global desc ranking") {
    def run(df: DataFrame) = Features.decileLift(
      df.filter(col("v").isNotNull), "v",
      positive = col("id") % 3 === 0, keys = Nil, n = 10, tieBreak = Seq("id"))
    assertSame(run(dense), run(dense))
  }

  test("gini, weightedMedian, rankFamily: bucketed == window") {
    def runG(df: DataFrame) = Relational.gini(df, "v", Seq("k"))
    def runW(df: DataFrame) = Relational.weightedMedian(df, "v", "wgt", Seq("k"))
    def runR(df: DataFrame) = Relational.rankFamily(df, "v", Seq("k"))
    assertSame(runG(dense), runG(dense))
    assertSame(runW(dense), runW(dense))
    assertSame(runR(dense), runR(dense))
    assertSame(runR(messy), runR(messy))
  }

  test("groupQuantiles rides RangeRank: parity with percentile under the forced bucketed path") {
    val qps = Seq(0.0 -> "p0", 0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90", 1.0 -> "p100")
    def canonQ(df: DataFrame) = canon(df)
    val wantAggs = count(col("v")).as("n") +: qps.map { case (p, nm) =>
      percentile(col("v"), lit(p)).as(nm) }
    val want = canonQ(dense.groupBy("k").agg(wantAggs.head, wantAggs.tail: _*))
    val got = forcedBucketed(canonQ(
      Features.groupQuantiles(dense, Seq("k"), "v", qps, countAs = Some("n"))))
    assert(got == want)
    // and through a composed consumer: winsorize (bounds frame + clamp)
    def runWz(df: DataFrame) = Cleaning.winsorize(df, "v", Seq("k"), 0.05, 0.95)
    assertSame(runWz(dense), runWz(dense))
  }

  test("percentile-bounds family: value-aggregated == row-level bounds bit-for-bit") {
    // winsorize/robustScale/madOutliers/trimmedMean all route their
    // exact percentile bounds through groupQuantiles; above the cutover
    // the bounds come from the value-aggregated rank (the q145/q150
    // rule) and must reproduce the window path's doubles exactly
    def runRs(df: DataFrame) = Features.robustScale(df, "v", Seq("k"))
    def runMad(df: DataFrame) = Cleaning.madOutliers(df, "v", Seq("k"), k = 2.0)
    def runTm(df: DataFrame) = Relational.trimmedMean(df, "v", Seq("k"))
    assertSame(runRs(dense), runRs(dense))
    assertSame(runRs(messy), runRs(messy))
    assertSame(runMad(dense), runMad(dense))
    assertSame(runMad(messy), runMad(messy))
    assertSame(runTm(dense), runTm(dense))
  }

  test("groupQuantiles direct branch: bit-parity with the window path, keyed and keyless") {
    // the near-unique shrink probe routes the rank DIRECTLY onto the
    // fact rows — pin its VALUES (not just its plan shape) against the
    // window path: a rank/filter bug in the direct-over-bucketed
    // composition would otherwise pass the suite, since every
    // assertSame above takes the value-aggregated branch
    val qps = Seq(0.0 -> "p0", 0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90", 1.0 -> "p100")
    // UNROUNDED sin values: near-unique both keyed AND keyless (dense's
    // rounded values tie ~3x keyless, which correctly routes value-agg)
    val nearUniq = spark.range(3000).select(
      (col("id") % 7).cast("string").as("k"),
      when(col("id") % 97 === 0, lit(null).cast("double"))
        .otherwise(sin(col("id").cast("double")) * 50).as("v"))
      .repartition(11)
    for (keys <- Seq(Seq("k"), Nil)) {
      val want = canon(
        Features.groupQuantiles(nearUniq, keys, "v", qps, countAs = Some("n")))
      val (got, plan) = forcedBucketed(forcedBigScan {
        val q = Features.groupQuantiles(nearUniq, keys, "v", qps, countAs = Some("n"))
        (canon(q), q.queryExecution.optimizedPlan.toString)
      })
      assert(!plan.contains("__qc"),
        s"keys=$keys: expected the direct (non-aggregated) branch, got:\n$plan")
      assert(got == want, s"keys=$keys: direct branch diverged from window path")
    }
  }

  test("rankFamily value-aggregated branch: bit-parity with the window path") {
    // tying values (shrink ≥ 2) route rankFamily onto the distinct
    // (keys, value) frame above the gate — rank/dense/cume recompose
    // from running counts and map back by null-safe (keys, value).
    // Nulls in BOTH the key and the value must rejoin their own rows.
    val tiedNulls = spark.range(3000).select(
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise((col("id") % 7).cast("string")).as("k"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 5).cast("double")).as("v"),
      col("id"))
      .repartition(9)
    def run(df: DataFrame) = Relational.rankFamily(df, "v", Seq("k"))
    val want = canon(run(tiedNulls))
    // the regime and the broadcast map-back's values are pinned by the
    // shared tie-invariant case below; here only the join strategy
    val plan = forcedBucketed(forcedBigScan(
      run(tiedNulls).queryExecution.optimizedPlan.toString))
    assert(!plan.contains("strategy=shuffle_hash"), s"expected the broadcast map-back:\n$plan")
    // above the broadcast byte gate the ranked values hash-join back
    val (gotH, planH) = forcedBucketed(forcedBigScan {
      spark.conf.set(Gates.RankBroadcastBytes.key, "0")
      try {
        val q = run(tiedNulls)
        (canon(q), q.queryExecution.optimizedPlan.toString)
      } finally spark.conf.unset(Gates.RankBroadcastBytes.key)
    })
    assert(planH.contains("__qc") && planH.contains("strategy=shuffle_hash"),
      s"expected the shuffle_hash map-back:\n$planH")
    assert(gotH == want, "shuffle_hash map-back diverged from window path")
  }

  test("tie-invariant consumers share one regime rule: bit-parity with the window path") {
    // tying values with nulls in both key and value (shrink ~4), and
    // near-unique values (shrink ~1)
    val tied = spark.range(3000).select(
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise((col("id") % 7).cast("string")).as("k"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 5).cast("double")).as("v"),
      col("id"))
      .repartition(9)
    val nearUnique = spark.range(3000).select(
      (col("id") % 7).cast("string").as("k"),
      when(col("id") % 97 === 0, lit(null).cast("double"))
        .otherwise(sin(col("id").cast("double")) * 50).as("v"),
      col("id"))
      .repartition(11)
    val qps = Seq(0.0 -> "p0", 0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90", 1.0 -> "p100")
    val consumers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "groupQuantiles" ->
        (df => Features.groupQuantiles(df, Seq("k"), "v", qps, countAs = Some("n"))),
      "percentRankScale" -> (df => Features.percentRankScale(df, "v", Seq("k"))),
      "rankFamily" -> (df => Relational.rankFamily(df, "v", Seq("k"))))
    // (regime, input, leaf rows forced large, expected plan). The
    // byte-only fire is the join-product shape: no probe, so it
    // value-aggregates whatever the shrink.
    val regimes = Seq(
      ("byte-only fire", tied, false, "aggregated"),
      ("big + tied", tied, true, "aggregated"),
      ("big + near-unique", nearUnique, true, "direct"))
    def result(q: DataFrame) =
      (q.schema.map(f => (f.name, f.dataType)).sortBy(_._1), canon(q))
    // the per-(keys, value) count marks the value-aggregated plan, the
    // cell column a direct bucketed rank of the input rows
    def planOf(plan: String) =
      if (plan.contains("__qc")) "aggregated" else if (plan.contains("__gbkt")) "direct" else "window"
    for ((name, run) <- consumers; (regime, in, big, expected) <- regimes) {
      val want = result(run(in))
      val (got, plan) = forcedBucketed {
        def body = { val q = run(in); (result(q), q.queryExecution.optimizedPlan.toString) }
        if (big) forcedBigScan(body) else body
      }
      assert(planOf(plan) == expected, s"$name, $regime: expected the $expected plan, got:\n$plan")
      assert(got == want, s"$name, $regime: diverged from the window path")
    }
    // a non-scan-shaped input is persisted before the probe, so the
    // probe, the rank and the map-back read it once
    val aggregatedIn = tied.groupBy("k", "v").agg(max(col("id")).as("id"))
    val run = consumers.find(_._1 == "percentRankScale").get._2
    val want = result(run(aggregatedIn))
    forcedBucketed(forcedBigScan {
      val q = run(aggregatedIn)
      assert(aggregatedIn.storageLevel.useMemory,
        "percentRankScale must persist a non-scan-shaped input before probing it")
      assert(result(q) == want, "persisted input diverged from the window path")
    })
  }

  test("rows clause sums leaf estimates through unions") {
    // a 10-way union of sub-threshold narrow leaves must fire the rows
    // clause on its combined volume — the leaf-MAX estimate would let
    // it sail into a single-task window sort (the q96 shape, unioned)
    spark.conf.set("graft.rank.rangeBytes", Long.MaxValue.toString)
    spark.conf.set("graft.rank.rangeRows", "300000")
    try {
      val one = spark.range(50000).select(
        (col("id") % 7).cast("string").as("k"),
        (col("id") % 1000).cast("double").as("v"), col("id"))
      val union = (1 to 10).map(_ => one).reduce(_ unionAll _)
      val single = RangeRank.ranked(one, Seq("k"), "v", tieBreak = Seq("id"))
        .queryExecution.optimizedPlan.toString
      assert(!single.contains("__gbkt"),
        s"one 50k-row leaf must stay on the window path, got:\n$single")
      val unioned = RangeRank.ranked(union, Seq("k"), "v", tieBreak = Seq("id"))
        .queryExecution.optimizedPlan.toString
      assert(unioned.contains("__gbkt"),
        s"the 500k-row union must take the bucketed path, got:\n$unioned")
    } finally {
      spark.conf.unset("graft.rank.rangeBytes")
      spark.conf.unset("graft.rank.rangeRows")
    }
  }

  test("the forced bucketed path really is bucketed (plan contains the cell column)") {
    val plan = forcedBucketed(
      RangeRank.ranked(dense, Seq("k"), "v").queryExecution.optimizedPlan.toString)
    assert(plan.contains("__gbkt"), s"expected the bucketed plan, got:\n$plan")
  }

  test("orderIsoId: injective and strictly order-preserving on a tie-heavy total order") {
    // the SSJoin vocab shape: a value column where most rows tie
    // (df = 1) and a string tie-break making the order total
    val rows = (1 to 5000).map { i =>
      val df = if (i % 100 == 0) i / 100 + 1 else 1
      (f"tok_$i%05d", df.toLong)
    }
    val vocab = spark.createDataFrame(
      rows.map { case (t, d) => (t, d) }).toDF("t", "df")
    try {
      val ids = RangeRank.orderIsoId(vocab,
        Seq(col("df").asc, col("t").asc), "id")
        .select(col("t"), col("df"), col("id")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(ids.length == rows.length)
      // injective
      assert(ids.map(_._3).distinct.length == ids.length, "ids must be injective")
      // order-isomorphic to (df, t): sorting by id must equal sorting
      // by the total order
      val byId = ids.sortBy(_._3).map(r => (r._2, r._1)).toSeq
      val byOrder = ids.map(r => (r._2, r._1)).sortBy(identity).toSeq
      assert(byId == byOrder, "id order must equal the (df, t) total order")
    } finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("estLeafRows reads a connected-components label frame's true row count") {
    // q98's fuzzy part clusters at sf0.01: 403 labelled parts. The
    // checkpoint scan used to report the origin plan's join-inflated
    // estimate (2.95 M rows), firing every row gate on a tiny frame.
    val sf001 = "/root/testdata/sf0.01"
    try {
      val labels = SparkEntry.queries("q98_fuzzy_clusters")(spark, sf001)
      assert(RangeRank.estLeafRows(labels) == BigInt(403))
      assert(labels.count() == 403)
    } finally Caches.releaseAll(spark)
  }
}
