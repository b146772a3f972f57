package graft

import org.apache.spark.sql.{CountedCheckpoint, DataFrame, SparkSession}

/**
 * The caller-owned-cache contract, in one place.
 *
 * Several operators persist an intermediate frame that the RETURNED
 * (lazy) DataFrame still reads — multi-branch frames like
 * `Dedup.goldenRecord`'s records⋈labels join, `setSimilarityJoin`'s
 * ordered-token frame, the md5 sketch twins' signature frames, or
 * `Similarity.hyperplaneLshPairs`' bucket frame. Those operators CANNOT
 * eagerly unpersist (the result has not run yet); the cache lifetime
 * belongs to the caller:
 *
 *  - run-once callers (Verify, Bench, one-shot jobs): call
 *    [[releaseAll]] after materializing each query;
 *  - interactive/repeated callers: keep the cache while re-querying,
 *    release when done.
 *
 * Operators whose persisted frame is DEAD before return (training
 * passes that end in a checkpointed model frame: `pcaPower`,
 * `logisticWeights`, `kmeansFit`'s feature frame) must instead
 * eager-unpersist inside the operator — `CacheHygieneSpec` audits every
 * persisting query entry for exactly that distinction: after
 * materialization, every live cache entry must be referenced by the
 * returned plan, and after [[releaseAll]] the session must be clean.
 */
object Caches {

  /** A checkpoint frame and what its one job counted: the exact row
   *  count and, when asked, the exact sum of one long column. */
  final case class Counted(df: DataFrame, rows: Long, sum: BigInt)(
      private[graft] val rddId: Int)

  /**
   * The counted checkpoint, the one way graft checkpoints a frame.
   *
   * Contract: ONE eager job materializes `df` into local checkpoint
   * blocks and returns, in the same pass over the rows, the row count
   * and the exact sum of the long column `sumOf` (nulls skipped; 0 for
   * an empty or all-null frame; exact past `Long.MaxValue`). The
   * returned frame's plan carries those rows as its statistics —
   * `rowCount` exact and `sizeInBytes` = rows × row width — instead of
   * the origin plan's estimate (Spark's own checkpoint scan reports the
   * origin's, join-inflated: q98's 403-row label frame estimated 2.95 M
   * rows at sf0.01). Partitioning, ordering and constraints are the
   * origin plan's, so a frame checkpointed after `repartition(n, k)`
   * still joins on `k` with no exchange on its side. A loop that needs
   * a count or a fixpoint sum of a frame it checkpoints reads it here
   * instead of paying a second job.
   *
   * Blocks live until [[releaseAll]] (or a roller's [[CheckpointRoller.advance]]).
   */
  def checkpoint(df: DataFrame, sumOf: Option[String] = None): Counted = {
    val (cp, rddId, rows, sum) = CountedCheckpoint.localCheckpoint(df, sumOf)
    Counted(cp, rows, sum)(rddId)
  }

  /**
   * Rolling counted checkpoints for iterative operators (pointer-jumping
   * CC, power/Lloyd/GD loops). Each iteration checkpoints one
   * generation of frames; once the NEXT generation is eagerly
   * materialized, the previous generation's blocks are dead — but
   * nothing ever released them, so a 5-iteration loop held 5
   * generations of state (audited by `CacheHygieneSpec`; at corpus
   * scale that is N iterations of cluster memory instead of 1).
   *
   * Protocol: `roll(df)` runs [[checkpoint]] on `df` into the current
   * generation (a generation may hold several frames — pcaPower
   * checkpoints a vector AND its norm per iteration); `advance()`
   * seals the generation and releases the blocks of the one BEFORE it,
   * which the just-materialized generation no longer reads. The final
   * generation is never released by `advance` — the returned plan
   * still scans it; the caller sweeps it via [[releaseAll]] per the
   * caller-owned contract above. `release()` drops every generation
   * at once, for frames no returned plan reads.
   */
  final class CheckpointRoller(spark: SparkSession) {
    private var prev: Set[Int] = Set.empty
    private var cur: Set[Int] = Set.empty

    /** [[checkpoint]] `df` into the current generation. A roller owns
     *  exactly the checkpoint RDDs it made, never a caller-owned Dataset
     *  cache the checkpoint job happened to materialize first. */
    def roll(df: DataFrame, sumOf: Option[String] = None): Counted = {
      val c = checkpoint(df, sumOf)
      cur += c.rddId
      c
    }

    /** Seal the current generation; release the superseded one. */
    def advance(): Unit = {
      val reg = spark.sparkContext.getPersistentRDDs
      prev.foreach(id => reg.get(id).foreach(CountedCheckpoint.release))
      prev = cur
      cur = Set.empty
    }

    /** Release every generation this roller still holds. */
    def release(): Unit = { advance(); advance() }
  }

  /**
   * Release every Dataset cache and persistent RDD owned by the
   * session. `clearCache()` drops the CacheManager entries;
   * `getPersistentRDDs` sweeps what clearCache cannot see —
   * `localCheckpoint` blocks (iteration frames in
   * connectedComponents/pcaPower/kmeansFit/logisticWeights), which
   * otherwise sit in the context until the ContextCleaner GCs them.
   * Blocking release: a caller benchmarking the NEXT query must not
   * race block eviction.
   */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(CountedCheckpoint.release)
  }
}
