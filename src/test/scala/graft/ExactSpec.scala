package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Exact

class ExactSpec extends SparkSpec {
  import spark.implicits._

  test("decSum is partition-order independent (the reason it exists)") {
    val vals = Seq.tabulate(1000)(i => (i % 7) * 0.123 + 0.001)
    val r1 = vals.toDF("v").repartition(1).agg(Exact.decSum(col("v"))).head.getDouble(0)
    val r8 = vals.toDF("v").repartition(8).agg(Exact.decSum(col("v"))).head.getDouble(0)
    assert(r1 == r8) // bit-identical, not approximately equal
  }

  test("decAvg divides the exact sum by the row count") {
    val r = Seq(1.0, 2.0, 4.0).toDF("v")
      .agg(Exact.decAvg(col("v")).as("a")).head.getDouble(0)
    assert(r == (1.0 + 2.0 + 4.0) / 3)
  }

  test("decCorr matches a reference Pearson computation and is partition-stable") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val ys = Seq(2.0, 4.1, 5.9, 8.2, 9.8)
    def ref: Double = {
      val n = xs.size.toDouble
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum; val syy = ys.map(b => b * b).sum
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val df = xs.zip(ys).toDF("x", "y")
    val r1 = df.repartition(1).agg(Exact.decCorr(col("x"), col("y"))).head.getDouble(0)
    val r4 = df.repartition(4).agg(Exact.decCorr(col("x"), col("y"))).head.getDouble(0)
    assert(r1 == r4)
    assert(math.abs(r1 - ref) < 1e-12)
    val sd = df.agg(Exact.decStddevPop(col("x"))).head.getDouble(0)
    assert(math.abs(sd - math.sqrt(2.0)) < 1e-12) // pop stddev of 1..5
  }

  test("decSkewnessPop/decKurtosisPop track Spark's built-ins and are layout independent") {
    val rnd = new scala.util.Random(7)
    // 2-decimal values in [0, 1] — inside the scale-2 exactness bounds
    val df = (1 to 2000).map(_ => rnd.nextInt(101) / 100.0).toDF("x")
    val Array(sk, ku) = df.agg(
        Exact.decSkewnessPop(col("x")).as("s"), Exact.decKurtosisPop(col("x")).as("k"))
      .head.toSeq.map(_.asInstanceOf[Double]).toArray
    val Array(skB, kuB) = df.agg(skewness(col("x")), kurtosis(col("x")))
      .head.toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(sk - skB) < 1e-9)
    assert(math.abs(ku - (kuB + 3.0)) < 1e-9) // built-in reports EXCESS kurtosis
    val again = df.repartition(17).agg(
        Exact.decSkewnessPop(col("x")), Exact.decKurtosisPop(col("x")))
      .head.toSeq.map(_.asInstanceOf[Double])
    assert(again == Seq(sk, ku)) // bit-equal across layouts
  }

  test("decSkewnessPop is NULL (not an ANSI error) for zero-variance groups") {
    val df = Seq(0.5, 0.5, 0.5).toDF("x")
    val r = df.agg(Exact.decSkewnessPop(col("x")), Exact.decKurtosisPop(col("x"))).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("decSum matches BigDecimal arithmetic on scalacheck-generated inputs") {
    val gen = Gen.listOfN(50, Gen.chooseNum(-1000.0, 1000.0))
    for (seed <- 1L to 5L) {
      val xs = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val got = xs.toDF("v").agg(Exact.decSum(col("v"))).head.getDouble(0)
      val want = xs.map(x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(got == want, s"seed=$seed")
    }
  }

  test("toDec/absorb/toD pin the shortest-string encoding on literal values") {
    val df = Seq(Some(0.1), Some(-2.5), None).toDF("v")
      .withColumn("f", col("v").cast("float"))
    val rows = df.select(Exact.toDec(col("v")), Exact.absorb(col("v")),
        Exact.toD(Exact.toDec(col("v"))), Exact.toDec(col("f")),
        Exact.toDec(col("v"), "decimal(38,30)"))
      .collect()
    def dec(i: Int, c: Int) =
      Option(rows(i).getDecimal(c)).map(_.toPlainString).orNull
    // 0.1 as a double parses exactly; through FLOAT it keeps the float's
    // 17-digit double image; a float enters through its own shortest form
    assert(dec(0, 0) == "0.100000000000000000")
    assert(dec(0, 1) == "0.100000001490116120")
    assert(rows(0).getDouble(2) == 0.1)
    assert(dec(0, 3) == "0.100000000000000000")
    assert(dec(0, 4) == "0.100000000000000000000000000000")
    assert(dec(1, 0) == "-2.500000000000000000")
    assert(dec(1, 1) == "-2.500000000000000000")
    assert(rows(1).getDouble(2) == -2.5)
    assert((0 to 4).forall(rows(2).isNullAt))
    // the direct cast this encoding avoids lands on the float's widened
    // double image, not the float's shortest form (DuckDB's reading)
    assert(df.select(col("f").cast("decimal(28,18)")).head.getDecimal(0).toPlainString ==
      "0.100000001490116120")
  }

  test("decMean is the exact decimal sum over every row of the group") {
    val df = Seq(("a", Some(0.1)), ("a", Some(0.2)), ("b", Some(0.1)), ("b", Some(0.2)),
      ("b", None), ("c", Some(-0.75))).toDF("g", "v")
    val got = df.groupBy("g").agg(Exact.decMean(col("v")).as("m"))
      .as[(String, Double)].collect().toMap
    // a double sum would give (0.1 + 0.2) / 2 = 0.15000000000000002
    assert(got == Map("a" -> 0.15, "b" -> 0.3 / 3, "c" -> -0.75))
  }

  test("a sum through absorb is bit-identical across partitionings") {
    val vals = Seq.tabulate(1000)(i => math.log(i + 2.0) * (if (i % 3 == 0) -1.3 else 0.7))
    def total(parts: Int): Double = vals.toDF("v").repartition(parts)
      .agg(Exact.toD(sum(Exact.absorb(col("v"))))).head.getDouble(0)
    assert(total(1) == total(8))
  }

  /** Evaluate `cs` over one row of literal moments (no aggregation). */
  private def eval(cs: org.apache.spark.sql.Column*): Seq[Any] =
    spark.range(1).select(cs: _*).head.toSeq

  private def moments(n: Double, sx: Double, sy: Double, sxy: Double,
      sxx: Double, syy: Double): Exact.Moments =
    Exact.Moments(lit(n), lit(sx), lit(sy), lit(sxy), lit(sxx), lit(syy))

  test("Moments.corr is the fixed Pearson sequence over literal moments") {
    // x = 1..5, y = 2x: the closed form lands one ulp below 1
    val line = moments(5, 15, 30, 110, 55, 220)
    assert(eval(line.cov, line.varX, line.varY) == Seq(100.0, 50.0, 200.0))
    val r = eval(line.corr).head.asInstanceOf[Double]
    assert(r == 100.0 / (math.sqrt(50.0) * math.sqrt(200.0)))
    assert(r == 0.9999999999999999)
    // x = (1, 2, 3), y = (3, 1, 2): r = -1/2 up to the sqrt rounding
    val neg = moments(3, 6, 6, 11, 14, 14)
    assert(eval(neg.corr).head == -3.0 / (math.sqrt(6.0) * math.sqrt(6.0)))
  }

  test("Moments.slope/intercept fit a two-point line exactly") {
    // (1, 3) and (3, 7): y = 2x + 1
    val two = moments(2, 4, 10, 24, 10, 58)
    assert(eval(two.slope, two.intercept(two.slope)) == Seq(2.0, 1.0))
    // the intercept takes the caller's slope column, not its own
    assert(eval(two.intercept(lit(0.0))) == Seq(5.0))
  }

  test("Moments.stddevPop clamps a few-ulp negative radicand to 0") {
    // three 0.1 values read back as doubles: 0.1+0.1+0.1 and 3 * 0.01
    val flat = Exact.Moments.univariate(lit(3.0), lit(0.1 + 0.1 + 0.1), lit(0.01 + 0.01 + 0.01))
    val Seq(radicand, sd) = eval(flat.varX, flat.stddevPop)
    assert(radicand.asInstanceOf[Double] < 0 && radicand.asInstanceOf[Double] > -1e-15)
    assert(sd == 0.0) // unclamped: sqrt of a negative, NaN
    val spread = Exact.Moments.univariate(lit(5.0), lit(15.0), lit(55.0)) // 1..5
    assert(eval(spread.stddevPop).head == math.sqrt(50.0) / 5)
  }
}
