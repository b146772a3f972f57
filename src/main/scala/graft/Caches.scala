package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{CountedCheckpoint, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Every cache graft makes, in one place: the storage level, the counted
 * checkpoint, and the two lifetimes a cached frame can have. No other
 * file names a storage level or calls the Spark cache API
 * (`SourceRulesSpec`).
 *
 *  - CALLER-OWNED ([[persist]], [[checkpoint]]): the RETURNED lazy
 *    frame still reads the cache, so the operator cannot release it —
 *    `Dedup.goldenRecord`'s records⋈labels join, `setSimilarityJoin`'s
 *    ordered-token frame, the md5 sketch twins' signature frames,
 *    `Similarity.hyperplaneLshPairs`' bucket frame. It lives until
 *    [[releaseAll]]: run-once callers (Verify, Bench, one-shot jobs)
 *    call it after materializing each query; interactive callers keep
 *    the cache while re-querying and release when done.
 *  - SCOPED ([[scoped]]): a frame DEAD before the operator returns — a
 *    training pass that ends in a checkpointed model (`pcaPower`,
 *    `logisticWeights`), a sample the driver loop collects from
 *    (`kmeansCentroids`), a micro-batch read by two actions. The scope
 *    releases it on return and on throw. Rollers made in a scope keep
 *    their final generation for the caller on return (the returned
 *    plan scans it) and hold nothing after a throw.
 *
 * `CacheHygieneSpec` audits the distinction: after materialization
 * every live cache entry is one the returned plan references, and
 * after [[releaseAll]] the session is clean.
 */
object Caches {

  /** Persist `df` for the caller at graft's one storage level: it
   *  lives until [[release]] or [[releaseAll]]. */
  def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Release one [[persist]]ed frame. */
  def release(df: DataFrame): Unit = df.unpersist()

  /** A checkpoint frame and what its one job counted: the exact row
   *  count and, when asked, the exact sum of one long column. */
  final case class Counted(df: DataFrame, rows: Long, sum: BigInt)(private[graft] val rdd: RDD[_])

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
   * Caller-owned: blocks live until [[releaseAll]]. A scope's
   * [[Scope.checkpoint]] and [[CheckpointRoller.roll]] release theirs
   * sooner.
   */
  def checkpoint(df: DataFrame, sumOf: Option[String] = None): Counted =
    CountedCheckpoint.localCheckpoint(df, sumOf)

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
   * which the just-materialized generation no longer reads. What the
   * roller still holds when its scope returns stays for the caller —
   * the returned plan scans it — until [[releaseAll]]; a throw releases
   * it. `release()` drops every generation at once, for frames no
   * returned plan reads. Made only by [[Scope.roller]], in the scope
   * it registers with.
   */
  final class CheckpointRoller private[Caches] (scope: Scope) {
    scope.rollers ::= this
    private var prev = Seq.empty[Counted]
    private var cur = Seq.empty[Counted]

    /** [[checkpoint]] `df` into the current generation. A roller owns
     *  exactly the checkpoint RDDs it made, never a caller-owned Dataset
     *  cache the checkpoint job happened to materialize first. */
    def roll(df: DataFrame, sumOf: Option[String] = None): Counted = {
      val c = checkpoint(df, sumOf)
      cur :+= c
      c
    }

    /** Seal the current generation; release the superseded one. */
    def advance(): Unit = {
      prev.foreach(c => CountedCheckpoint.release(c.rdd))
      prev = cur
      cur = Nil
    }

    /** Release every generation this roller still holds. */
    def release(): Unit = { advance(); advance() }
  }

  /**
   * What one [[scoped]] call owns: the frames it persisted and
   * checkpointed, released when the scope exits, returned or thrown,
   * and the rollers made in it, released only on a throw.
   */
  final class Scope private[Caches] () {
    private[Caches] var frames = List.empty[DataFrame]
    private[Caches] var rollers = List.empty[CheckpointRoller] // before dead: it registers
    private[Caches] val dead = new CheckpointRoller(this)

    /** Persist `df` until the scope exits. */
    def persist(df: DataFrame): DataFrame = {
      frames ::= df
      Caches.persist(df)
    }

    /** [[Caches.checkpoint]] `df` until the scope exits. */
    def checkpoint(df: DataFrame): Counted = dead.roll(df)

    /** A roller whose final generation outlives a returning scope. */
    def roller(): CheckpointRoller = new CheckpointRoller(this)
  }

  /** Run `body` with a [[Scope]]; on exit release what the scope owns. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    catch { case t: Throwable => scope.rollers.foreach(_.release()); throw t }
    finally { scope.frames.foreach(release); scope.dead.release() }
  }

  /**
   * Release every Dataset cache and persistent RDD owned by the
   * session. `clearCache()` drops the CacheManager entries;
   * `getPersistentRDDs` sweeps what clearCache cannot see — the
   * caller-owned checkpoint blocks ([[checkpoint]] and every roller's
   * final generation), which otherwise sit in the context until the
   * ContextCleaner GCs them. Blocking release: a caller benchmarking
   * the NEXT query must not race block eviction.
   */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(CountedCheckpoint.release)
  }
}
