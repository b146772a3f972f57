package graft

import org.apache.spark.sql.SparkSession
import graft.operators.Gates

/**
 * Shared local-session builder for the driver-contract mains
 * (Verify / Bench / Profile / Explain): one place for the master, shuffle
 * parallelism, AQE, UTC, UI, and catalog-required confs — so a
 * single-query profile (Profile) always measures exactly the session Bench
 * benchmarks, and a new required conf lands everywhere at once.
 */
object Sessions {

  /**
   * AQE initial-partition ceiling sized by the INPUT, not a constant.
   *
   * The sf10 scale step measured 32-partition sorts of pair-heavy stages
   * spilling into 20-30x wall ratios plus two execution-memory aborts —
   * the ceiling must grow with data so per-task state stays bounded. But
   * a fixed wide ceiling taxes every small-scale shuffle: at sf0.1 a
   * blanket 8x-cores start cost +105 s across the 244-query surface
   * (bench/BENCH_LOCAL_r08b vs r08), concentrated on iterative plans
   * that pay the per-shuffle block overhead once per iteration
   * (q209 pagerank +11.7 s over 5 iterations).
   *
   * Sizing rule: one initial partition per ~8 MB of on-disk input.
   * Pair-generating stages (shingle/band explodes) amplify input ~10x,
   * so 8 MB on disk ~ 64 MB post-expansion — Spark's advisory partition
   * size. Bounded below by `cpus` (never fewer initial partitions than
   * cores) and above by [[Gates.width]]'s 16x-cores cap.
   * At sf0.1 (~15 MB) this is exactly `cpus` — the pre-widening plan —
   * and at sf10 (~1.5 GB) it is ~192, inside the envelope that fixed
   * the aborts.
   */
  def initialPartitions(cpus: Int, inputBytes: Long): Int =
    Gates.width(cpus, inputBytes, 8L << 20, cpus)

  /** Total on-disk bytes under a data directory (0 for none/missing). */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    val f = new java.io.File(dir)
    if (f.exists()) walk(f) else 0L
  }

  /** Static shuffle width for a NARROW loop (see below): one partition
   *  per ~250k narrow loop rows, floored at 1 — a loop under 500k rows
   *  runs one task per stage, and loops of at least 1 M rows keep the
   *  width the old floor of 4 gave them. Below that every extra task
   *  is per-round scheduling over a few hundred KB: on q62 at sf0.1
   *  (8,000 directed edges, 4 cores, perfbench `curation_loops`, 5
   *  alternating pairs, counted checkpoints on both sides) floor 1 ran
   *  a pass in 1.06 s median against 1.48 s at floor 4, lower in every
   *  pair. */
  def loopShufflePartitions(spark: SparkSession, rows: Long): Int =
    Gates.width(spark.sparkContext.defaultParallelism, rows, 250000L, 1)

  /**
   * Scoped AQE initial-partition override for ITERATIVE operators.
   *
   * The input-sized ceiling above is right for one-pass scan-heavy
   * plans and WRONG inside iteration loops over small frames: a
   * connected-components round at sf10 shuffles ~10⁵-10⁶-row label and
   * edge frames through 3-4 exchanges, and each exchange pays the
   * per-partition scheduling/block overhead at the INPUT-sized ceiling
   * (192 at sf10) once per round — measured 39.8 s → 8.7 s on q62's
   * 4-round loop when the ceiling is dropped to cores. This helper
   * sizes the ceiling by the LOOP frame instead: one initial partition
   * per ~1M loop rows (loop rows are narrow — two longs — so 1M rows
   * ≈ 16-30 MB, Spark's advisory size), floored at cores like the input
   * rule. The conf is restored on exit; everything the loop
   * materializes (checkpoints) runs under the override, and
   * the returned frame is a checkpoint scan that plans no shuffles, so
   * the restore cannot race the result.
   *
   * `narrow = true` additionally pins the loop's execution regime for
   * SMALL iteration frames (the caller gates on its measured loop row
   * count): adaptive execution OFF and a static shuffle width from
   * [[loopShufflePartitions]]. Rationale (round-14 profiling): under
   * AQE every exchange of every round materializes as its OWN job with
   * a replanning pass — a connected-components round was ~8 jobs of
   * 10-100 ms orchestration over frames of a few MB. With AQE off the
   * whole round is ONE statically-planned job; the loop frames are
   * orders of magnitude below the sizes where AQE's coalescing/skew
   * machinery earns its planning cost. Callers pair this with explicit
   * join-strategy hints, which predate checkpoint scans carrying their
   * true row counts ([[Caches.checkpoint]]) and stay until an sf10 A/B
   * shows the static planner's own picks match them. Callers take the
   * AQE regime instead when their `graft.loop.aqeOffEdges` gate is set
   * to 0.
   *
   * Session-conf scoping caveat: Spark has no per-plan conf, so a
   * CONCURRENT planner in the same session would see the override for
   * the duration of `body` — the driver mains (Verify/Bench/Profile)
   * are serial by construction.
   */
  def withLoopPartitions[T](spark: SparkSession, rows: Long, narrow: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val cores = spark.sparkContext.defaultParallelism
    val want = Gates.width(cores, rows, 1000000L, cores)
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    val prevAqe = spark.conf.getOption(aqeKey)
    val prevSp = spark.conf.getOption(spKey)
    spark.conf.set(key, want.toString)
    if (narrow) {
      spark.conf.set(aqeKey, "false")
      spark.conf.set(spKey, loopShufflePartitions(spark, rows).toString)
    }
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(s) => spark.conf.set(k, s)
      case None => spark.conf.unset(k)
    }
    try body
    finally {
      restore(key, prev)
      if (narrow) { restore(aqeKey, prevAqe); restore(spKey, prevSp) }
    }
  }

  def local(cpus: String, dataDir: Option[String] = None): SparkSession = {
    val n = cpus.toIntOption.getOrElse(32)
    val init = initialPartitions(n, dataDir.map(dirBytes).getOrElse(0L))
    graft.sources.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        init.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
