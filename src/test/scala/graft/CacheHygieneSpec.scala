package graft

/**
 * Audit of the two cache lifetimes documented at [[Caches]].
 *
 * Two classes of persisted intermediate exist (Caches.scala Scaladoc):
 *
 *  - **caller-owned** ([[Caches.persist]], [[Caches.checkpoint]], a
 *    scope's roller's final generation): the RETURNED lazy frame still
 *    reads the persisted block (multi-branch signature/bucket frames,
 *    checkpointed model frames a result plan scans). The operator
 *    cannot release it; the lifetime belongs to the caller, who runs
 *    [[Caches.releaseAll]] after materializing. These queries are
 *    enumerated — with their exact live-block counts — in
 *    `callerOwned` below.
 *  - **dead-before-return**: a training/staging pass whose persisted
 *    frame is NOT referenced by the returned plan. The operator MUST
 *    make it in a [[Caches.scoped]] scope, which releases it before
 *    return; leaving it live is a leak that accumulates across a
 *    244-query Verify/Bench run.
 *
 * The audit materializes every `SparkEntry.queries` entry at sf0.001 and
 * asserts the session's live persisted-RDD count afterwards is EXACTLY
 * the pinned count (zero for every query not listed). A cache that is
 * dead before return is, by definition, not needed by the materialized
 * result — so any live block beyond the pinned caller-owned set is a
 * leaked dead cache, and a pinned count that stops matching means an
 * operator's persist set changed and must be re-justified here. After
 * each `releaseAll` the session must hold zero persistent RDDs.
 */
class CacheHygieneSpec extends SparkSpec {

  private def liveBlocks: Int = spark.sparkContext.getPersistentRDDs.size

  test("canary: a leaked localCheckpoint is visible to this audit and releaseAll sweeps it") {
    Caches.releaseAll(spark)
    assert(liveBlocks == 0)
    // the leak class releaseAll exists for: clearCache() cannot see
    // localCheckpoint blocks, only getPersistentRDDs can
    val leaked = spark.range(100).toDF("n").localCheckpoint(true)
    assert(leaked.count() == 100)
    assert(liveBlocks > 0, "the audit failed to SEE a leaked checkpoint block")
    spark.catalog.clearCache() // the weaker sweep must NOT be enough
    assert(liveBlocks > 0, "clearCache alone hid the canary — audit is vacuous")
    Caches.releaseAll(spark)
    assert(liveBlocks == 0)
  }

  test("every query entry leaves exactly its documented caller-owned blocks; releaseAll leaves zero") {
    // query -> expected live persisted-RDD blocks after materialization.
    // Every entry here is a frame the returned plan still reads (banded
    // self-joins over a persisted signature/token frame, CC label frames,
    // checkpointed model frames the result scans). Unlisted queries must
    // leave ZERO live blocks.
    val callerOwned = Map(
      // banded self-joins / pair joins over ONE persisted signature or
      // token frame both join sides read
      "q29_minhash_lsh" -> 1,
      "q135_ssjoin_prefix" -> 1,
      "q212_minhash_md5" -> 1,
      "q241_simhash_md5" -> 1,
      "q242_hyperplane_md5" -> 1,
      // pointer-jumping CC: the FINAL label checkpoint the returned plan
      // scans (the roller released every superseded generation), plus —
      // where the pair generation itself persists a frame still in the
      // fallback lineage — that one persisted frame
      "q59_dedup_clusters" -> 2, // signature frame + final CC labels
      "q62_cc_labels" -> 1, // final CC labels
      "q73_semantic_dedup" -> 1, // final CC labels
      "q98_fuzzy_clusters" -> 1, // final CC labels
      "q140_ssjoin_clusters" -> 2, // ordered-token frame + final CC labels
      "q188_cluster_sizes" -> 2, // q140's frames via cluster reuse
      "q192_golden_record" -> 2, // records⋈labels caller-owned join frames
      // multi-branch analytics over a persisted pair/support/count frame
      // the returned plan reads more than once
      "q146_degree_stats" -> 1,
      "q151_triangles" -> 2, // pair graph read three ways
      "q187_threshold_sweep" -> 2, // ordered-token frame + swept pair frame
      "q213_js_divergence" -> 1,
      "q215_macro_f1" -> 2, // confusion frame + two-branch perClass
      // q216_assoc_rules: 0 since round 13 — the distinct (basket,
      // item) frame's four consumers share its exchange (reuse), so
      // the persist was dropped
      "q219_good_turing" -> 1,
      "q223_minhash_estimate" -> 1,
      "q232_naive_bayes" -> 2, // doc-token frame + vocab-sized counts
      "q233_bm25" -> 2, // df + score support frames
      // iterative training: frames the returned rank/label lineage
      // reads
      "q209_pagerank" -> 2, // node checkpoint + final sums
      "q210_label_prop" -> 2, // persisted edges + seeds
      // trained-model frames: the final checkpointed generation the
      // returned plan scans (power-iteration u+norm, last centroids +
      // feature cache, final GD weights)
      "q224_pca_power" -> 2,
      "q226_pca_project" -> 2,
      "q228_kmeans_lloyd" -> 2,
      "q229_kmeans_quality" -> 2,
      "q237_logistic_gd" -> 1,
      "q238_logistic_eval" -> 1,
    )
    Caches.releaseAll(spark)
    val observed = scala.collection.mutable.LinkedHashMap[String, Int]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      assert(liveBlocks == 0, s"dirty session entering $name")
      fn(spark, sf0001).write.format("noop").mode("overwrite").save()
      val live = liveBlocks
      if (live != callerOwned.getOrElse(name, 0)) observed(name) = live
      Caches.releaseAll(spark)
      assert(liveBlocks == 0, s"releaseAll left blocks live after $name")
    }
    assert(observed.isEmpty,
      s"live-block counts diverge from the pinned caller-owned contract " +
        s"(query -> observed blocks, expected ${observed.keys.map(k => s"$k=${callerOwned.getOrElse(k, 0)}").mkString(",")}): $observed")
  }
}
