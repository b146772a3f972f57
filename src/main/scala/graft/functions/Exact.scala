package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Cross-engine-exact aggregate builders.
 *
 * Summing doubles is order-dependent, and a distributed engine sums in
 * partition order — so a double SUM can never hash-match a single-threaded
 * oracle bit-for-bit. Casting each value to a fixed-scale decimal first
 * makes the aggregation exact integer arithmetic (order-independent,
 * overflow-checked), after which one final cast to double is deterministic.
 * The same trick keeps results stable across AQE re-partitioning at scale.
 *
 * Two encodings live here, and operators use no other: the fixed-scale
 * DECIMAL(18,s) cast ([[decSum]], [[decAvg]], [[decCorr]], the moment
 * builders) for values of known decimal precision, and the
 * shortest-string DECIMAL(28,18) encoding ([[toDec]], [[absorb]],
 * [[toD]], [[decMean]]) for arbitrary doubles and floats.
 *
 * Cost: the per-row double→decimal cast goes through BigDecimal and is
 * the dominant cost of these aggregates (measured ~4.6× a plain double
 * SUM on the q01 shape — the scan itself is ~0.6 s of q01's ~2.9 s).
 * That is the price of cross-engine bit-reproducibility; pipelines that
 * only need within-engine determinism-to-the-ulp can use plain double
 * sums and accept partition-order-dependent last-bit variation.
 */
object Exact {
  /** Order-independent SUM: per-value decimal cast → exact sum → double. */
  def decSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Order-independent AVG over all rows of the group. */
  def decAvg(c: Column, scale: Int = 6): Column =
    decSum(c, scale) / count(lit(1))

  /** Row count as BIGINT (matches DuckDB's COUNT(*)). */
  def cnt: Column = count(lit(1))

  private[graft] def dec(c: Column, scale: Int) = c.cast(s"decimal(18,$scale)")

  // ---- the shortest-string DECIMAL(28,18) encoding ----
  //
  // Doubles and floats enter an exact sum through their shortest
  // round-trip STRING, not a direct cast: Spark casts a float to decimal
  // through its widened double (0.1f → 0.10000000149011612) while DuckDB
  // uses the float's shortest decimal (0.1), and the Ryu string is the
  // same in both engines. Scale 18 keeps the parse exact for any |v| >= 1e-9 (float
  // shortest forms have <= 9 significant digits). Oracles mirror each
  // helper as CAST(CAST(v AS VARCHAR) AS DECIMAL(28,18)), and read a
  // decimal back as CAST(CAST(d AS VARCHAR) AS DOUBLE): DuckDB's direct
  // DECIMAL→DOUBLE double-rounds, the string parse is correctly rounded.

  /** A value through its shortest string into DECIMAL(28,18), or into
   *  `to` (pageRank's DECIMAL(38,30) contributions, the χ² cells'
   *  DECIMAL(38,12)). */
  def toDec(c: Column, to: String = "decimal(28,18)"): Column =
    c.cast("string").cast(to)

  /** A double rounded to its FLOAT image, then [[toDec]]: the absorb
   *  step for terms whose last double bits may differ across libms
   *  (ln, exp, log2 — float's ~6e-8 quantum swallows a 1-ulp wobble).
   *  Oracles mirror it as CAST(CAST(CAST(CAST(v AS REAL) AS DOUBLE) AS
   *  VARCHAR) AS DECIMAL(28,18)). */
  def absorb(c: Column): Column = toDec(c.cast("float").cast("double"))

  /** A decimal (an exact sum of [[toDec]]/[[absorb]] terms) back to
   *  double through its string. */
  def toD(c: Column): Column = c.cast("string").cast("double")

  /** Exact per-group mean: Σ [[toDec]](c) as double over the row count
   *  (double / long is one IEEE division; a decimal division would
   *  round at decimal scale, where engines disagree). */
  def decMean(c: Column): Column = sum(toDec(c)).cast("double") / count(lit(1))

  /** DECIMAL(28,18) zero: the [[toDec]]-typed default of a coalesce. */
  def decZero: Column = lit(0).cast("decimal(28,18)")

  /**
   * Order-independent Pearson correlation: every moment (Σx, Σy, Σxy,
   * Σx², Σy²) is an exact decimal sum, and only the final closed-form
   * combination runs in double — so the result is bit-stable across
   * partitionings AND reproducible by any engine that writes the same
   * closed form over the same exact sums (unlike `corr`, whose streaming
   * merge formula is engine-specific).
   *
   * Caveat: the final decimal→double casts are only engine-identical
   * while each sum stays below 2^53 scaled units — beyond that the cast
   * itself rounds, and engines may round differently. Pick `scale` (and
   * input magnitudes) accordingly.
   */
  def decCorr(x: Column, y: Column, scale: Int = 4): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sum(dec(x, scale)).cast("double")
    val sy = sum(dec(y, scale)).cast("double")
    val sxy = sum(dec(x, scale) * dec(y, scale)).cast("double")
    val sxx = sum(dec(x, scale) * dec(x, scale)).cast("double")
    val syy = sum(dec(y, scale) * dec(y, scale)).cast("double")
    (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /**
   * Order-independent population skewness: m₃ / m₂^1.5 from exact raw
   * decimal moments (Σx, Σx², Σx³), combined in ONE fixed closed-form
   * sequence — so the shape statistic is partition-order independent
   * and engine-portable, unlike `skewness`' streaming central-moment
   * merge.
   *
   * The power chain is cast-staged to dodge Spark's 38-precision
   * multiply cap (which silently TRUNCATES scale): x ∈ dec(12,s),
   * x² re-cast to dec(18,2s), so x³ = x²·x types (31,3s) and
   * x⁴ = x²·x² types (37,4s) — all inside the cap, all exact.
   * Requires |x| < 10¹⁰⁻ˢ and Σ|x|⁴·10^4s < 2^53 (normalize wide
   * columns first; s defaults to 2, right for ≤2-decimal ratios).
   * m₂^1.5 is written m₂·√m₂ — `pow` is not correctly rounded across
   * libms, sqrt is. Zero-variance groups yield NULL (guarded — the
   * ANSI 0/0 would error), mirrored verbatim in oracles.
   */
  def decSkewnessPop(x: Column, scale: Int = 2): Column = {
    val (n, s1, s2, s3, _) = rawMoments(x, scale)
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m3 = s3 / n - lit(3d) * mu * (s2 / n) + lit(2d) * mu * mu * mu
    when(m2 > 0, m3 / (m2 * sqrt(m2)))
  }

  /** Order-independent population kurtosis (non-excess): m₄ / m₂² from
   *  the same exact raw moments and staging as [[decSkewnessPop]]. */
  def decKurtosisPop(x: Column, scale: Int = 2): Column = {
    val (n, s1, s2, s3, s4) = rawMoments(x, scale)
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m4 = s4 / n - lit(4d) * mu * (s3 / n) + lit(6d) * mu * mu * (s2 / n) -
      lit(3d) * mu * mu * mu * mu
    when(m2 > 0, m4 / (m2 * m2))
  }

  /** Exact raw moments (n, Σx, Σx², Σx³, Σx⁴) as doubles, cast-staged
   *  per [[decSkewnessPop]]'s bound notes. */
  private def rawMoments(x: Column, scale: Int) = {
    val d1 = x.cast(s"decimal(12,$scale)")
    val d2 = (d1 * d1).cast(s"decimal(18,${2 * scale})")
    (count(x).cast("double"),
      sum(d1).cast("double"),
      sum(d1 * d1).cast("double"),
      sum(d2 * d1).cast("double"),
      sum(d2 * d2).cast("double"))
  }

  /** Order-independent population standard deviation (same construction).
   *  The radicand is clamped at 0: for a zero-variance group the exact
   *  sums cancel only up to the decimal→double casts, and the residual
   *  can land a few ulps NEGATIVE (e.g. n identical 0.1 values) — sqrt
   *  would then return NaN here and ERROR in DuckDB. `greatest(x, 0)`
   *  is bit-neutral for every non-degenerate group, so oracles mirror
   *  it verbatim. */
  def decStddevPop(x: Column, scale: Int = 4): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sum(dec(x, scale)).cast("double")
    val sxx = sum(dec(x, scale) * dec(x, scale)).cast("double")
    sqrt(greatest(n * sxx - sx * sx, lit(0d))) / n
  }
}
