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
 * [[toD]], [[decMean]]) for arbitrary doubles and floats. One kernel,
 * [[Moments]], spells the Pearson, OLS and variance closed forms over
 * those exact sums; operators call its finishers instead.
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

  // ---- the moment-statistics kernel ----

  /**
   * The second moments of an (x, y) sample — n, Σx, Σy, Σxy, Σx², Σy² —
   * and the one spelling of the closed forms graft finishes them with
   * (Pearson, OLS, population variance). The fields may be aggregate
   * expressions ([[Moments.sums]]), window aggregates, or references to
   * aggregated columns ([[Moments.named]]). The finishers take them as
   * doubles and combine them in one fixed IEEE sequence, which every
   * oracle spells verbatim over the same exact sums; a value still
   * holding the exact decimal sums is only for [[columns]] to alias.
   *
   * Two things stay with the caller, because each oracle mirrors its own
   * site's: how the exact decimal sums become doubles (a direct
   * `.cast("double")` and [[toD]]'s string detour can differ in the last
   * bit), and the degenerate-sample guard (`when(varX > 0, …)`, exact
   * min == max flags, `n > 0`).
   *
   * Caveat: a decimal→double read is only engine-identical while the sum
   * stays below 2^53 scaled units — beyond that the cast itself rounds,
   * and engines may round differently. Pick scales and input magnitudes
   * accordingly.
   */
  final case class Moments(
      n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column) {
    /** n·Σxy − Σx·Σy: n² times the population covariance. */
    def cov: Column = n * sxy - sx * sy
    /** n·Σx² − (Σx)²: n² times the population variance of x. A
     *  zero-variance sample leaves a ±few-ulp residue of EITHER sign
     *  after the decimal→double reads (n identical 0.1 values). */
    def varX: Column = n * sxx - sx * sx
    /** n·Σy² − (Σy)², as [[varX]]. */
    def varY: Column = n * syy - sy * sy
    /** Pearson correlation (unlike `corr`, whose streaming merge formula
     *  is engine-specific). */
    def corr: Column = cov / (sqrt(varX) * sqrt(varY))
    /** OLS slope of y on x. */
    def slope: Column = cov / varX
    /** OLS intercept through the means, for the caller's `slope` (its
     *  guarded expression, or the slope column it already added). */
    def intercept(slope: Column): Column = (sy - slope * sx) / n
    /** Population standard deviation of x. The radicand is clamped at 0:
     *  sqrt of [[varX]]'s negative residue would be NaN here and an
     *  ERROR in DuckDB, and `greatest(v, 0)` is bit-neutral for every
     *  non-degenerate sample, so oracles mirror it verbatim. */
    def stddevPop: Column = sqrt(greatest(varX, lit(0d))) / n

    /** The aggregate columns as `nAs`, `__gsx`, `__gsy`, `__gsxy`,
     *  `__gsxx` and `__gsyy` ([[Moments.named]] reads them back); a site
     *  that never uses Σy² leaves it out with `withYY = false`. */
    def columns(nAs: String, withYY: Boolean = true): Seq[Column] =
      Seq(n.as(nAs), sx.as("__gsx"), sy.as("__gsy"), sxy.as("__gsxy"), sxx.as("__gsxx")) ++
        (if (withYY) Seq(syy.as("__gsyy")) else Nil)
  }

  object Moments {
    /** One variable: x paired with itself, for the x finishers. */
    def univariate(n: Column, sx: Column, sxx: Column): Moments =
      Moments(n, sx, sx, sxx, sxx, sxx)

    /**
     * The exact moment aggregates of (x, y): n = count(*) and Σ of every
     * moment term. `x` and `y` are decimal factors, so the products are
     * exact (`term` = identity), or doubles whose terms each take the
     * DECIMAL(28,18) encoding before summing (`term` = [[toDec]]).
     * `read` applies to every aggregate — `_.cast("double")` to finish
     * in the same projection, identity to alias the exact sums and read
     * them after the aggregation.
     */
    def sums(
        x: Column, y: Column, term: Column => Column = identity,
        read: Column => Column = identity): Moments =
      Moments(read(count(lit(1))), read(sum(term(x))), read(sum(term(y))),
        read(sum(term(x * y))), read(sum(term(x * x))), read(sum(term(y * y))))

    /** The moments aggregated under [[Moments.columns]]' names, each sum
     *  through `read`; `n` is the caller's read of its count column. */
    def named(n: Column, read: Column => Column = identity): Moments = {
      def r(name: String) = read(col(name))
      Moments(n, r("__gsx"), r("__gsy"), r("__gsxy"), r("__gsxx"), r("__gsyy"))
    }
  }

  /**
   * Order-independent Pearson correlation: every moment (Σx, Σy, Σxy,
   * Σx², Σy²) is an exact decimal sum, and only the final
   * [[Moments.corr]] runs in double — so the result is bit-stable across
   * partitionings AND reproducible by any engine that writes the same
   * closed form over the same exact sums.
   */
  def decCorr(x: Column, y: Column, scale: Int = 4): Column =
    Moments.sums(dec(x, scale), dec(y, scale), read = _.cast("double")).corr

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

  /** Order-independent population standard deviation (same construction,
   *  [[Moments.stddevPop]]'s clamped radicand). */
  def decStddevPop(x: Column, scale: Int = 4): Column =
    Moments.sums(dec(x, scale), dec(x, scale), read = _.cast("double")).stddevPop
}
