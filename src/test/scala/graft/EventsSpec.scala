package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Events

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val ev = Seq(
    (7L, ts("2024-01-01 10:00:00"), 1L),
    (7L, ts("2024-01-01 10:20:00"), 2L),
    (7L, ts("2024-01-01 12:00:00"), 3L), // > 1h gap -> new session
    (8L, ts("2024-01-01 09:00:00"), 4L),
  ).toDF("user_id", "ts", "event_id")

  test("sessionize splits on gaps > gapUs, per user") {
    val out = Events.sessionize(ev, "user_id", "ts", 3600L * 1000000L)
      .orderBy("event_id").select("session_idx").as[Long].collect().toSeq
    assert(out == Seq(0L, 0L, 1L, 0L))
  }

  test("sessionSummaries aggregates bounds and counts per session") {
    val out = Events.sessionSummaries(ev, "user_id", "ts", 3600L * 1000000L)
      .orderBy("user_id", "session_idx").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Timestamp]("start_ts")))
    assert(out.toSeq == Seq(
      (7L, 0L, 2L, ts("2024-01-01 10:00:00")),
      (7L, 1L, 1L, ts("2024-01-01 12:00:00")),
      (8L, 0L, 1L, ts("2024-01-01 09:00:00"))))
  }

  test("asofJoin attaches the latest right row at-or-before each left ts") {
    val purchases = Seq(
      (1L, 100L, ts("2024-01-01 10:30:00")),
      (1L, 101L, ts("2024-01-01 09:00:00")), // before any click -> null
      (2L, 102L, ts("2024-01-01 10:00:00")), // exactly at click -> inclusive match
    ).toDF("user_id", "event_id", "ts")
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:15:00")),
      (2L, ts("2024-01-01 10:00:00")),
    ).toDF("user_id", "ts")
    val out = Events.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("ts" -> "last_click_ts"))
      .orderBy("event_id").collect()
      .map(r => Option(r.getAs[Timestamp]("last_click_ts")))
    assert(out.toSeq == Seq(
      Some(ts("2024-01-01 10:15:00")), None, Some(ts("2024-01-01 10:00:00"))))
  }

  test("asofJoin carries all value columns atomically from ONE right row") {
    val lefts = Seq((1L, ts("2024-01-01 12:00:00"))).toDF("user_id", "ts")
    val rights = Seq(
      (1L, ts("2024-01-01 03:00:00"), Some(2.0), Some(7.0)),
      (1L, ts("2024-01-01 10:00:00"), Some(5.0), None), // latest match: qty is null
    ).toDF("user_id", "ts", "price", "qty")
    val out = Events.asofJoin(lefts, rights, Seq("user_id"), "ts", "ts",
        Seq("price" -> "p", "qty" -> "q")).collect().head
    assert(out.getAs[Double]("p") == 5.0)
    assert(out.isNullAt(out.fieldIndex("q")),
      "q must be the latest row's null, never stitched from an older row")
  }

  test("asofJoin with duplicate (key, ts) right rows picks the greatest tie-break deterministically") {
    val lefts = Seq((1L, ts("2024-01-01 12:00:00"))).toDF("user_id", "ts")
    // Two right rows tied on (user_id, ts) but carrying different values:
    // without a total ordering, which one attaches is partition-order
    // dependent. With rightTieBreak, the greatest id must win — under
    // every shuffle layout.
    val rights = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5L, "low"),
      (1L, ts("2024-01-01 10:00:00"), 9L, "high"),
      (1L, ts("2024-01-01 10:00:00"), 7L, "mid"),
    ).toDF("user_id", "ts", "click_id", "label").repartition(8)
    (1 to 3).foreach { _ =>
      val out = Events.asofJoin(lefts, rights, Seq("user_id"), "ts", "ts",
          Seq("label" -> "l", "click_id" -> "cid"), rightTieBreak = Seq("click_id"))
        .collect().head
      assert(out.getAs[String]("l") == "high")
      assert(out.getAs[Long]("cid") == 9L)
    }
  }

  test("sessionize tie-break makes per-row ordering total under duplicate timestamps") {
    val dup = Seq(
      (7L, ts("2024-01-01 10:00:00"), 1L),
      (7L, ts("2024-01-01 10:00:00"), 2L), // tied ts, same session
      (7L, ts("2024-01-01 12:00:00"), 3L), // > 1h gap -> new session
    ).toDF("user_id", "ts", "event_id").repartition(8)
    val out = Events.sessionize(dup, "user_id", "ts", 3600L * 1000000L,
        tieBreak = Seq("event_id"))
      .orderBy("event_id").select("session_idx").as[Long].collect().toSeq
    assert(out == Seq(0L, 0L, 1L))
  }

  test("rollupAgg emits all grouping-set levels") {
    import graft.operators.Relational
    val d = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)).toDF("g1", "g2", "v")
    val out = Relational.rollupAgg(d, Seq("g1", "g2"), Seq(sum("v").as("s")))
    assert(out.count() == 6) // 3 leaves + 2 g1-subtotals + 1 grand total
    assert(out.filter(col("g1").isNull && col("g2").isNull)
      .head.getAs[Double]("s") == 7.0)
  }

  test("rangeJoin matches the naive non-equi join, boundaries inclusive") {
    import graft.operators.Events
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:30:00")),
      (3L, ts("2024-01-01 13:00:00")), (4L, ts("2024-01-02 09:00:00")),
      (5L, ts("2024-01-01 12:00:00")), // == an interval end (inclusive)
    ).toDF("id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:59:00")),
      (12L, ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00")), // matches nothing
    ).toDF("rid", "s", "e")
    // bin width much smaller than intervals: exercises multi-bin explode
    for (binSec <- Seq(600L, 3600L, 86400L)) {
      val fast = Events.rangeJoin(left, "ts", right, "s", "e", binSec)
        .select("id", "rid").as[(Long, Long)].collect().toSet
      val naive = left.join(right, col("ts") >= col("s") && col("ts") <= col("e"))
        .select("id", "rid").as[(Long, Long)].collect().toSet
      assert(fast == naive, s"binSec=$binSec")
      assert(fast.contains((1L, 10L)) && fast.contains((5L, 10L))) // inclusive ends
      assert(!fast.exists(_._2 == 12L))
    }
  }

  test("quantileAgg: approx GK sketch tracks the exact interpolated percentile") {
    import graft.operators.Relational
    val li = sources.Tables(spark, sf0001).lineitem
    val exact = Relational.quantileAgg(li, Seq("l_returnflag"), "l_extendedprice",
      Seq("p50" -> 0.5)).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = Relational.quantileAgg(li, Seq("l_returnflag"), "l_extendedprice",
      Seq("p50" -> 0.5), approx = true).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) / v < 0.05, s"group $k: exact=$v approx=${approx(k)}")
    }
  }

  test("cubeAgg grouping indicators separate subtotals from null data values") {
    import graft.operators.Relational
    val d = Seq((Some("a"), "x", 1.0), (None, "x", 2.0)).toDF("g1", "g2", "v")
    val out = Relational.cubeAgg(d, Seq("g1", "g2"), Seq(sum("v").as("s")))
    // the NULL data value row at leaf level is distinguishable from the g1 subtotal
    val leafNull = out.filter(col("g1").isNull && col("is_total_g1") === 0 &&
      col("is_total_g2") === 0)
    assert(leafNull.count() == 1 && leafNull.head.getAs[Double]("s") == 2.0)
    val subtotal = out.filter(col("is_total_g1") === 1 && col("is_total_g2") === 1)
    assert(subtotal.head.getAs[Double]("s") == 3.0)
    assert(out.count() == 6) // 2 leaves + 1 (*,x) + 2 (g1,*) + 1 grand total
  }

  test("distinctCount: approx HLL++ lands within 3x rsd of exact") {
    import graft.operators.Relational
    val li = sources.Tables(spark, sf0001).lineitem
    val exact = Relational.distinctCount(li, "l_partkey").head.getLong(0)
    val approx = Relational.distinctCount(li, "l_partkey", approx = true, rsd = 0.05)
      .head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }

  test("withDelta differences successive per-key values; first row is NULL") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 12.0), ("b", 1, 5.0))
      .toDF("k", "t", "v")
    val out = Events.withDelta(df, Seq("k"), Seq(col("t")), "v")
      .orderBy("k", "t")
      .collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(None, Some(5.0), Some(-3.0), None))
  }

  test("cohortRetention buckets users by first day and counts distinct actives per offset") {
    val df = Seq(
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-01 17:00:00"), // same day: one active
      (1L, "2024-01-03 09:00:00"),
      (2L, "2024-01-01 10:00:00"),
      (3L, "2024-01-02 10:00:00"), (3L, "2024-01-03 10:00:00"),
    ).toDF("user_id", "raw").withColumn("ts", to_timestamp(col("raw"))).drop("raw")
    val out = Events.cohortRetention(df, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L),  // users 1,2 on their cohort day
      ("2024-01-01", 2L, 1L),  // user 1 back at offset 2
      ("2024-01-02", 0L, 1L),  // user 3's cohort
      ("2024-01-02", 1L, 1L))) // user 3 back next day
  }

  test("gapFillDaily densifies the calendar, zero-fills counts, forward-fills sums") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 10.0),
      (1L, "2024-01-01 11:00:00", 20.0),
      (1L, "2024-01-04 09:00:00", 5.0),   // 2-day gap for user 1
      (2L, "2024-01-02 08:00:00", 7.0),   // single-day user
    ).toDF("user_id", "raw", "value")
      .withColumn("ts", to_timestamp(col("raw"))).drop("raw")
    val out = Events.gapFillDaily(df, Seq("user_id"), "ts",
        aggs = Seq(count(lit(1)).as("n"), sum(col("value")).as("s")),
        zeroCol = "n", ffillCol = "s")
      .orderBy("user_id", "day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01", 2L, 30.0),
      (1L, "2024-01-02", 0L, 30.0),  // gap day: count 0, sum carried
      (1L, "2024-01-03", 0L, 30.0),
      (1L, "2024-01-04", 1L, 5.0),
      (2L, "2024-01-02", 1L, 7.0),
    ))
  }

  test("mergeIntervals unions overlapping and touching intervals per key") {
    val iv = Seq(
      (1L, 0L, 10L),   // chain: [0,10] + [10,15] touch, [12,20] overlaps
      (1L, 10L, 15L),
      (1L, 12L, 20L),
      (1L, 30L, 40L),  // disjoint island
      (2L, 5L, 6L),    // contained interval collapses
      (2L, 5L, 5L),
    ).toDF("k", "s", "e")
    val out = Events.mergeIntervals(iv, Seq("k"), "s", "e")
      .orderBy("k", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 20L, 3L),
      (1L, 30L, 40L, 1L),
      (2L, 5L, 6L, 2L)))
  }

  test("funnel counts users completing each step strictly after the previous") {
    val e = Seq(
      // u1 completes the full funnel
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),
      // u2 clicks BEFORE viewing -> stops at view
      (2L, 20L, "view"), (2L, 10L, "click"),
      // u3 clicks at the SAME instant as the view -> strict > excludes it
      (3L, 10L, "view"), (3L, 10L, "click"),
      // u4 never views -> counted nowhere
      (4L, 10L, "click"), (4L, 20L, "buy"),
    ).toDF("user_id", "ts", "event_type")
    val out = Events.funnel(e, "user_id", "ts",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "buy" -> (col("event_type") === "buy")))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 1L), (3, "buy", 1L)))
  }

  test("streaks finds the longest consecutive-day run per user") {
    val e = Seq(
      // u1: 1-2-3 run, then 5, then 7-8 — best 3, active 6
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"), (1L, "2024-01-07"), (1L, "2024-01-08"),
      (1L, "2024-01-08"), // same-day repeat must not inflate the run
      // u2: single day
      (2L, "2024-02-01"),
    ).toDF("user_id", "raw")
      .withColumn("ts", to_timestamp(col("raw"))).drop("raw")
    val out = Events.streaks(e, "user_id", "ts")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 6L), (2L, 1L, 1L)))
  }

  test("ewmaSmoothed matches the hand-computed truncated recursion; null values drop out") {
    val d = Seq((1, 1, Some(1.0)), (1, 2, Some(2.0)), (1, 3, Some(4.0)),
        (1, 4, None), (2, 1, Some(7.0)))
      .toDF("k", "t", "v")
    val out = Events.ewmaSmoothed(d, Seq("k"), Seq(col("t")), "v",
        alpha = 0.5, depth = 2)
      .orderBy("k", "t").select("ewma").as[Option[Double]].collect().toSeq
    // w = (0.5, 0.25); head rows renormalize over the weights present
    assert(out == Seq(
      Some(1.0),                          // only v0: 0.5*1 / 0.5
      Some((0.5 * 2 + 0.25 * 1) / 0.75),
      Some((0.5 * 4 + 0.25 * 2) / 0.75),
      Some((0.25 * 4) / 0.25),            // current value null -> lag only
      Some(7.0)))
  }

  test("ewmaSmoothed is partition-layout independent") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i => (i % 7, i, rnd.nextInt(10000) / 100.0)).toDF("k", "t", "v")
    val a = Events.ewmaSmoothed(df.repartition(13), Seq("k"), Seq(col("t")), "v", 0.5, 8)
      .orderBy("k", "t").select("ewma").as[Double].collect().toSeq
    val b = Events.ewmaSmoothed(df.coalesce(1), Seq("k"), Seq(col("t")), "v", 0.5, 8)
      .orderBy("k", "t").select("ewma").as[Double].collect().toSeq
    assert(a == b)
  }

  test("sessionPaths emits ordered, capped, layout-independent paths per session") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val e = Seq(
      (1L, at(0), 1L, "view"), (1L, at(10), 2L, "click"),   // session 0
      (1L, at(70), 3L, "purchase"),                          // session 1 (gap 60m)
      (2L, at(0), 4L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Events.sessionPaths(e.repartition(5), "user_id", "ts",
        gapUs = 1800L * 1000000L, state = "event_type", n = 5,
        tieBreak = Seq("event_id"))
      .orderBy("user_id", "session_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, "view>click", 2L), (1L, 1L, "purchase", 1L), (2L, 0L, "view", 1L)))
  }

  test("pctChange computes v/prev - 1 per key; first row and zero baselines are NULL") {
    val d = Seq((1, 1, 100.0), (1, 2, 110.0), (1, 3, 0.0), (1, 4, 5.0), (2, 1, 3.0))
      .toDF("k", "t", "v")
    val out = Events.pctChange(d, Seq("k"), Seq(col("t")), "v")
      .orderBy("k", "t").select("pct_change").as[Option[Double]].collect().toSeq
    assert(out(0).isEmpty && out(4).isEmpty)
    assert(math.abs(out(1).get - 0.1) < 1e-12)
    assert(out(2).get == -1.0)
    assert(out(3).isEmpty) // zero baseline: NULL, not an ANSI error or fake Inf
  }

  test("dowSeasonality indexes each weekday count against the uniform share") {
    // 2024-01-07 was a Sunday
    val e = (0 until 7).flatMap { d =>
      val reps = if (d == 0) 8 else 1 // Sunday 8x
      Seq.fill(reps)(("t", f"2024-01-${7 + d}%02d 12:00:00"))
    }.toDF("event_type", "raw").withColumn("ts", to_timestamp(col("raw")))
    val out = Events.dowSeasonality(e, Seq("event_type"), "ts")
      .orderBy("dow").collect()
      .map(r => (r.getInt(r.fieldIndex("dow")), r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("idx"))))
    assert(out.head == ((0, 8L, 8.0 * 7 / 14)))
    assert(out.tail.forall { case (_, n, idx) => n == 1L && idx == 7.0 / 14 })
  }

  test("transitions counts consecutive state bigrams with per-origin probabilities") {
    val e = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "c"))
      .toDF("user_id", "t", "s")
    val out = Events.transitions(e, "user_id", Seq(col("t")), "s")
      .orderBy("from_state", "to_state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", "b", 2L, 2.0 / 3), ("a", "c", 1L, 1.0 / 3), ("b", "a", 1L, 1.0)))
  }

  test("cusumScores equals the textbook max(0, S+dev) recursion, both sides") {
    // key k: devs +1, +1, -3, +1, +1 around target 10
    val d = Seq(("k", 1, 11.0), ("k", 2, 11.0), ("k", 3, 7.0),
      ("k", 4, 11.0), ("k", 5, 11.0)).toDF("g", "t", "v")
    val out = Events.cusumScores(d.repartition(3), Seq("g"), Seq(col("t")),
        col("v"), lit(10.0))
      .orderBy("t").collect()
      .map(r => (r.getInt(1), r.getDouble(r.fieldIndex("cusum_pos")),
        r.getDouble(r.fieldIndex("cusum_neg"))))
    // textbook: pos = max(0, prev + dev); neg = max(0, prev - dev)
    // pos: 1, 2, 0, 1, 2   neg: 0, 0, 3, 2, 1
    assert(out.toSeq == Seq((1, 1.0, 0.0), (2, 2.0, 0.0), (3, 0.0, 3.0),
      (4, 1.0, 2.0), (5, 2.0, 1.0)))
  }

  test("lastTouchAttribution credits purchases to the latest prior non-conversion touch") {
    val e = Seq(
      (1L, 1L, "ad"), (1L, 2L, "email"), (1L, 3L, "purchase"),
      (1L, 4L, "purchase"), // back-to-back: still credits email, not purchase
      (2L, 1L, "purchase")) // organic: no prior touch -> NULL
      .toDF("user_id", "t", "event_type")
      .withColumn("ts", col("t").cast("timestamp"))
    val out = Events.lastTouchAttribution(e.repartition(3), "user_id", "ts",
        Seq("t"), "event_type", col("event_type") === "purchase")
      .orderBy("user_id", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getAs[String]("attributed_source"))))
    assert(out.toSeq == Seq(
      (1L, 3L, Some("email")), (1L, 4L, Some("email")), (2L, 1L, None)))
  }

  test("cumulativeDistinct counts first-seen entities per day and the running total") {
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    val e = Seq((1L, d(1)), (1L, d(3)), (2L, d(1)), (3L, d(3)), (3L, d(4)))
      .toDF("user_id", "ts")
    val out = Events.cumulativeDistinct(e.repartition(4), "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    // day1: u1,u2 new; day3: u3 new (u1's return does not re-count)
    assert(out.toSeq == Seq(("2024-01-01", 2L, 2L), ("2024-01-03", 1L, 3L)))
  }

  test("abConversion: exact counts and hand-computed Wilson bounds") {
    val e = Seq(
      (1L, "view"), (1L, "purchase"), (2L, "view"),      // variant A: 1/2
      (3L, "purchase"), (4L, "purchase"), (5L, "view"))  // variant B: 2/3
      .toDF("user_id", "et")
    val out = Events.abConversion(e,
        when(col("user_id") <= 2, "A").otherwise("B"), "user_id",
        col("et") === "purchase")
      .orderBy("variant").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    def wilson(c: Long, n: Long, z: Double = 1.96): (Double, Double) = {
      val nd = n.toDouble; val p = c.toDouble / nd
      val denom = 1.0 + z * z / nd
      val center = p + z * z / (2.0 * nd)
      val margin = z * math.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))
      ((center - margin) / denom, (center + margin) / denom)
    }
    val (al, ah) = wilson(1, 2); val (bl, bh) = wilson(2, 3)
    assert(out.toSeq == Seq(
      ("A", 2L, 1L, 0.5, al, ah), ("B", 3L, 2L, 2.0 / 3, bl, bh)))
    assert(al > 0 && ah < 1) // Wilson never escapes [0, 1], unlike Wald
  }

  test("timeWeightedAvg weights values by their exact-µs duration; last point drops") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val d = Seq(
      ("k", at(0), 1L, 10.0), ("k", at(10), 2L, 20.0), ("k", at(30), 3L, 99.0))
      .toDF("g", "ts", "event_id", "v")
    val out = Events.timeWeightedAvg(d.repartition(3), Seq("g"), "ts",
        Seq("event_id"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // (10·10s + 20·20s) / 30s — the plain avg would say 43
    assert(out.toSeq == Seq(("k", 500.0 / 30, 2L)))
  }

  test("rollingDistinct counts trailing-window distinct entities, clamped to the span") {
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val e = Seq((1L, d(1)), (1L, d(1)), (2L, d(3))).toDF("user_id", "ts")
    val out = Events.rollingDistinct(e, "user_id", "ts", windowDays = 3)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    // u1 visible days 1-3, u2 from day 3; days past max(day 3) clamp off
    assert(out.toSeq == Seq(
      ("2024-01-01", 1L), ("2024-01-02", 1L), ("2024-01-03", 2L)))
  }

  test("ewmaSmoothed returns NULL, not 0/0, when the value and its whole lag window are null") {
    // key 9's FIRST row has a null value: every weight term drops out,
    // so the norm sum is 0 — the guard must yield NULL, not DIVIDE_BY_ZERO
    val d = Seq((9, 1, None), (9, 2, Some(4.0)))
      .toDF("k", "t", "v")
    val out = Events.ewmaSmoothed(d, Seq("k"), Seq(col("t")), "v", 0.5, 2)
      .orderBy("t").select("ewma").as[Option[Double]].collect().toSeq
    assert(out == Seq(None, Some(4.0)))
  }

  test("changepoint finds the exact CUSUM max-distance row; ties to the earlier index") {
    // k: 0,0,0,10,10 -> D_i = |5·S_i − i·20| = 20,40,60,30,0 -> cp at i=3
    val d = Seq(
      ("k", 1, 0.0), ("k", 2, 0.0), ("k", 3, 0.0), ("k", 4, 10.0), ("k", 5, 10.0),
      // k2: constant values -> every D_i = 0 -> tie -> earliest index 1
      ("k2", 1, 5.0), ("k2", 2, 5.0),
    ).toDF("key", "t", "v")
    val out = Events.changepoint(d.repartition(3), Seq("key"), Seq(col("t")), "v")
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("k", 5L, 3, 60.0 / 25.0), ("k2", 2L, 1, 0.0)))
    val ex = intercept[IllegalArgumentException] {
      Events.changepoint(d, Nil, Seq(col("t")), "v")
    }
    assert(ex.getMessage.contains("single-partition"))
  }

  test("trendOls: exact closed-form slope/intercept; zero x-variance yields NULL") {
    // y = 2x + 1 on x = 0..3 -> slope 2, intercept 1, both exact doubles
    val d = Seq(
      ("a", 100L, 1.0), ("a", 101L, 3.0), ("a", 102L, 5.0), ("a", 103L, 7.0),
      ("b", 9L, 4.0), ("b", 9L, 8.0),   // one x value -> den = 0 -> NULLs
    ).toDF("key", "x", "y")
    val out = Events.trendOls(d.repartition(3), Seq("key"), col("x"), "y")
      .orderBy("key").collect()
    assert(out(0).getString(0) == "a" && out(0).getLong(1) == 4L &&
      out(0).getDouble(2) == 2.0 && out(0).getDouble(3) == 1.0)
    assert(out(1).getString(0) == "b" && out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("autocorr: linear series ~1, constant series NULL, null values drop pairs") {
    val d = Seq(
      ("k", 1, Some(1.0)), ("k", 2, Some(2.0)), ("k", 3, Some(3.0)), ("k", 4, Some(4.0)),
      ("c", 1, Some(5.0)), ("c", 2, Some(5.0)), ("c", 3, Some(5.0)),
      ("g", 1, Some(1.0)), ("g", 2, None), ("g", 3, Some(9.0)),
    ).toDF("key", "t", "v")
    val out = Events.autocorr(d.repartition(3), Seq("key"), Seq(col("t")), "v")
      .orderBy("key").collect()
    // g: every pair touches the NULL row -> zero pairs -> NO row (the
    // thresholdSweep empty-group convention); c: zero variance -> NULL
    assert(out.map(_.getString(0)).toSeq == Seq("c", "k"))
    assert(out(0).getLong(1) == 2L && out(0).isNullAt(2))
    assert(out(1).getLong(1) == 3L &&
      math.abs(out(1).getDouble(2) - 1.0) < 1e-12)
  }

  test("raw-frame per-key windows refuse empty keys (single-partition funnel guard)") {
    val d = Seq((1, 1, 1.0)).toDF("k", "t", "v")
    val exPct = intercept[IllegalArgumentException] {
      Events.pctChange(d, Nil, Seq(col("t")), "v")
    }
    assert(exPct.getMessage.contains("single-partition"))
    val exEwma = intercept[IllegalArgumentException] {
      Events.ewmaSmoothed(d, Nil, Seq(col("t")), "v", 0.5, 2)
    }
    assert(exEwma.getMessage.contains("single-partition"))
  }

  test("kmSurvival: hand-checked product-limit table; censoring holds the curve") {
    val subjects = Seq(
      (Some(1L), true), (Some(2L), false),
      (Some(3L), true), (Some(3L), true), (Some(3L), false),
      (None, true),                      // null duration drops
    ).toDF("dur", "churned")
    val out = Events.kmSurvival(subjects.repartition(3), "dur", "churned")
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq((1L, 5L, 1L, 0L), (2L, 4L, 0L, 1L), (3L, 3L, 2L, 1L)))
    assert(math.abs(out(0)._5 - 0.8) < 1e-6)
    assert(math.abs(out(1)._5 - 0.8) < 1e-6)             // pure censoring: flat
    assert(math.abs(out(2)._5 - 0.8 / 3.0) < 1e-6)
  }

  test("kmSurvival: a step where everyone at risk exits pins S(t) = 0, not -Inf noise") {
    val subjects = Seq((1L, true), (2L, true), (2L, true)).toDF("dur", "churned")
    val out = Events.kmSurvival(subjects, "dur", "churned")
      .orderBy("t").collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(math.abs(out(0)._2 - 2.0 / 3.0) < 1e-6)
    assert(out(1)._2 == 0.0)
  }

  test("stepLatency: only strictly-after conversions count; exact gap percentiles") {
    val ev = Seq(
      (1L, 100L, "view"), (1L, 300L, "purchase"),  // converts, gap 200
      (2L, 100L, "view"), (2L, 50L, "purchase"),   // purchase BEFORE view
      (3L, 10L, "purchase"),                        // never viewed
      (4L, 0L, "view"), (4L, 400L, "purchase"), (4L, 900L, "purchase"), // first purchase counts
    ).toDF("user_id", "ts_us", "event_type")
    val r = Events.stepLatency(ev, "user_id", "ts_us",
      col("event_type") === "view", col("event_type") === "purchase",
      Seq(0.5)).collect().head
    assert(r.getLong(0) == 2L)                 // users 1 and 4
    assert(r.getDouble(1) == 300.0)            // median of {200, 400}
  }

  test("interArrival: exact gap percentiles per key off one lag window") {
    val ev = Seq(
      ("a", 0L, 1L), ("a", 10L, 2L), ("a", 30L, 3L), ("a", 60L, 4L), // gaps 10,20,30
      ("b", 5L, 5L),                                                  // no gaps
    ).toDF("k", "ts_us", "id")
    val out = Events.interArrival(ev, Seq("k"), "ts_us", Seq("id"), Seq(0.5))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a") == ((3L, 20.0)))
    assert(!out.contains("b")) // a single event yields no gap row
  }

  test("theilSen: one wild point cannot drag the median slope") {
    val pts = Seq((0L, 0.0), (1L, 2.0), (2L, 4.0), (3L, 6.0), (4L, 0.0))
      .map { case (x, y) => ("k", x, y) }.toDF("key", "x", "y")
    val r = Events.theilSen(pts, Seq("key"), col("x"), "y").collect().head
    assert(r.getLong(1) == 10L)   // C(5,2) pairs
    assert(r.getDouble(2) == 2.0) // median slope ignores the outlier
  }

  test("acfMulti: linear series is ACF 1 at every estimable lag; single-pair lags are NULL; lag 1 matches autocorr") {
    val series = Seq((1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0))
      .map { case (i, v) => ("k", i, v) }.toDF("key", "i", "v")
    val out = Events.acfMulti(series.repartition(3), Seq("key"), Seq(col("i")), "v", maxLag = 3)
      .collect().map(r => r.getAs[Int]("lag") ->
        ((r.getAs[Long]("n_pairs"), Option(r.getAs[Any]("acf"))))).toMap
    // 6/(sqrt(6)*sqrt(6)) lands one ulp above 1 — the same fixed IEEE
    // sequence autocorr produces, so compare within tolerance here and
    // exactly against autocorr below
    assert(out(1)._1 == 3L &&
      math.abs(out(1)._2.get.asInstanceOf[Double] - 1.0) < 1e-12)
    assert(out(2)._1 == 2L &&
      math.abs(out(2)._2.get.asInstanceOf[Double] - 1.0) < 1e-12)
    // one pair: zero variance on both sides -> NULL by the guard
    assert(out(3)._1 == 1L && out(3)._2.isEmpty)
    val single = Events.autocorr(series, Seq("key"), Seq(col("i")), "v")
      .collect().head.getAs[Double]("acf")
    assert(single == out(1)._2.get)
  }

  test("autocorr/acfMulti precision widens the decimal route: a 12-integer-digit series overflows at the default and resolves at 18") {
    // 1e11..4e11: 12 integer digits — overflows the default
    // decimal(14,4) cast (ANSI, the session default: the query throws
    // NUMERIC_VALUE_OUT_OF_RANGE), fits decimal(18,4) exactly
    val big = Seq((1, 1.0e11), (2, 2.0e11), (3, 3.0e11), (4, 4.0e11))
      .map { case (i, v) => ("k", i, v) }.toDF("key", "i", "v")
    val exNarrow = intercept[Exception] {
      Events.autocorr(big, Seq("key"), Seq(col("i")), "v").collect()
    }
    assert(exNarrow.getMessage.contains("Decimal(14, 4)"))
    val wide = Events.autocorr(big, Seq("key"), Seq(col("i")), "v",
      precision = 18).collect().head
    assert(math.abs(wide.getAs[Double]("acf") - 1.0) < 1e-12)
    val wideMulti = Events.acfMulti(big, Seq("key"), Seq(col("i")), "v",
      maxLag = 2, precision = 18)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    assert(math.abs(wideMulti(1) - 1.0) < 1e-12 &&
      math.abs(wideMulti(2) - 1.0) < 1e-12)
    val exBad = intercept[IllegalArgumentException] {
      Events.autocorr(big, Seq("key"), Seq(col("i")), "v",
        precision = 19)
    }
    assert(exBad.getMessage.contains("18"))
  }
}
