package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Gates

/**
 * Shared local-session builder for the driver-contract mains
 * (Verify / Bench / Profile / Explain): one place for the master, shuffle
 * parallelism, AQE, UTC, UI, and catalog-required confs — so a
 * single-query profile (Profile) always measures exactly the session Bench
 * benchmarks, and a new required conf lands everywhere at once. The
 * iterative graph loops take their scoped session confs from the one
 * loop entry here, [[withLoop]].
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

  /**
   * The regime of one iterative graph loop, decided by [[withLoop]]:
   * the loop's exact edge row count, whether it runs narrow, the
   * loop's current edge frame and its join hints.
   *
   * Edges roll in their OWN generation sequence, advanced only when a
   * new edge frame supersedes the old one: a label roller's fixed
   * two-generation cadence would release the last contracted frame
   * while later rounds still join it once contraction stops early.
   * The body's own iteration frames roll in rollers of [[scope]].
   */
  final class Loop private[Sessions] (
      val rows: Long, val narrow: Boolean, roller: Caches.CheckpointRoller,
      private var current: DataFrame, val scope: Caches.Scope) {

    /** The loop's edge frame: the counted checkpoint, re-laid on the
     *  loop key when narrow, or the last [[rollEdges]]. */
    def edges: DataFrame = current

    /** `df` with a SHUFFLE_HASH hint when narrow, as it is otherwise. */
    def hinted(df: DataFrame): DataFrame =
      if (narrow) df.hint("shuffle_hash") else df

    /** Checkpoint `df` as the next edge generation and make it
     *  [[edges]]; the generation before it is released. */
    def rollEdges(df: DataFrame): Caches.Counted = {
      val c = roller.roll(df)
      roller.advance()
      current = c.df
      c
    }
  }

  /**
   * The one entry of the iterative graph loops (connected components,
   * pageRank): it counts the loop's edge frame, decides the loop's
   * execution regime from that count, scopes the session confs of that
   * regime around `body`, and owns every edge generation the loop
   * checkpoints.
   *
   *  1. `edges` rolls into one counted checkpoint ([[Caches.checkpoint]])
   *     BEFORE the scope, under the caller's input-sized AQE ceiling:
   *     the frame's own generation (a pair-generation distinct, a
   *     weight join) is data-sized and must stay wide. Its exact row
   *     count is [[Loop.rows]].
   *  2. Loop shuffles are sized by the LOOP frame, not the input. The
   *     input-sized ceiling ([[initialPartitions]]) is right for
   *     one-pass scan-heavy plans and wrong inside iteration loops over
   *     small frames: a connected-components round at sf10 shuffles
   *     ~10⁵-10⁶-row label and edge frames through 3-4 exchanges, and
   *     each exchange paid the per-partition scheduling/block overhead
   *     at the input-sized ceiling (192 at sf10) once per round —
   *     q62's 4-round loop measured 39.8 s → 8.7 s with the ceiling at
   *     cores. Inside the scope the ceiling is one initial partition
   *     per ~1 M loop rows (two longs a row: ~16-30 MB, Spark's
   *     advisory size), floored at cores.
   *  3. NARROW regime below `graft.loop.aqeOffEdges` rows
   *     ([[graft.operators.Gates.LoopAqeOffEdges]]; 0 forces the AQE
   *     regime at any size): adaptive execution OFF and a static
   *     shuffle width of one partition per ~250 k loop rows, floored
   *     at 1. Under AQE every exchange of every round materializes as
   *     its OWN job with a replanning pass — a connected-components
   *     round was ~8 jobs of 10-100 ms orchestration over frames of a
   *     few MB (q62 3.1 → 1.7 s, q98 3.7 → 1.7 s at sf0.1, same labels);
   *     with AQE off a round is ONE statically planned job. The floor
   *     of 1 runs a loop under 500 k rows as one task per stage: on
   *     q62 at sf0.1 (8,000 directed edges, 4 cores, perfbench
   *     `curation_loops`, 5 alternating pairs) floor 1 ran a pass in
   *     1.06 s median against 1.48 s at floor 4, lower in every pair.
   *     Above the bar the loop keeps AQE: runtime skew handling
   *     matters once loop frames are cluster-sized.
   *  4. When narrow, the edge frame is re-laid hash(`key`) at the loop
   *     width and rolled once, so each round's join on `key` streams
   *     the checkpointed layout with no edge exchange.
   *  5. [[Loop.hinted]] adds SHUFFLE_HASH when narrow. The hints
   *     predate checkpoint scans carrying their true row counts, and
   *     stay until an sf10 A/B shows the static planner's own picks
   *     match them.
   *  6. On exit, returned or thrown, every edge generation is released
   *     and the three confs (`…adaptive.enabled`,
   *     `…shuffle.partitions`, `…coalescePartitions.initialPartitionNum`)
   *     are restored. `body` must return a frame that reads no edge
   *     generation: the loops return checkpoint scans, which plan no
   *     shuffle, so the restore cannot race the result.
   *  7. The loop runs in one [[Caches.scoped]] scope, [[Loop.scope]]:
   *     the body's rollers keep their final generation for the caller
   *     on return, and a throw releases them with the edges.
   *
   * Spark has no per-plan conf, so a CONCURRENT planner in the same
   * session would see the scoped confs while `body` runs; the driver
   * mains are serial by construction.
   */
  def withLoop[T](edges: DataFrame, key: String)(body: Loop => T): T = Caches.scoped { scope =>
    val spark = edges.sparkSession
    val roller = scope.roller()
    val counted = roller.roll(edges)
    roller.advance()
    val rows = counted.rows
    val narrow = rows < Gates.read(Gates.LoopAqeOffEdges, spark)
    val cores = spark.sparkContext.defaultParallelism
    val width = Gates.width(cores, rows, 250000L, 1)
    val confs = Seq("spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        Gates.width(cores, rows, 1000000L, cores).toString) ++
      (if (narrow) Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> width.toString) else Nil)
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val loop = new Loop(rows, narrow, roller, counted.df, scope)
    try {
      if (narrow) loop.rollEdges(counted.df.repartition(width, col(key)))
      val out = body(loop)
      roller.release() // the returned frame reads no edge generation
      out
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
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
