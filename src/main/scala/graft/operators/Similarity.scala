package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.{absorb, decMean, decZero, toD, toDec}
import graft.plans.GraftFunctions

/**
 * Similarity search over embedding columns (SURVEY §2.2 #32-34).
 *
 * Baseline: brute-force cosine top-k — the query set is broadcast, the
 * corpus streams through the codegen'd [[graft.plans.CosineSimilarity]]
 * expression, and per-query top-k is a single windowed rank. Scale path:
 * random-hyperplane LSH buckets the corpus so each probe touches
 * ~corpus/2^bits vectors instead of all of them.
 */
object Similarity {

  /** Cosine via the native codegen expression (registers it on first use). */
  def cosine(spark: SparkSession, a: Column, b: Column): Column =
    graft.functions.Vectors.cosine(spark, a, b)

  /**
   * Exact top-k neighbors for each query vector. `queries` must be small
   * (it is broadcast); the corpus side never shuffles except for the
   * per-query rank, which AQE splits if a query's candidate set skews.
   */
  def bruteForceTopK(
      spark: SparkSession,
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qvec"))
    val sim = cosine(spark, col(vec), col("__qvec"))
    val w = Window.partitionBy("query_id").orderBy(col("__gsim").desc, col(id).asc)
    corpus
      .join(broadcast(q), col(id) =!= col("query_id"))
      .withColumn("__gsim", sim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(id).as("neighbor_id"))
  }

  /** [[bruteForceTopK]] keeping the cosine itself — for consumers that
   *  weight by similarity (label propagation, soft voting) rather than
   *  rank alone. Same plan; one extra column. */
  def bruteForceTopKScored(
      spark: SparkSession,
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qvec"))
    val sim = cosine(spark, col(vec), col("__qvec"))
    val w = Window.partitionBy("query_id").orderBy(col("__gsim").desc, col(id).asc)
    corpus
      .join(broadcast(q), col(id) =!= col("query_id"))
      .withColumn("__gsim", sim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(id).as("neighbor_id"),
        col("__gsim").as("cosine"))
  }

  /**
   * Brute-force top-k by raw INNER PRODUCT — the second ranker for
   * fusion experiments: unlike cosine it rewards magnitude, so the two
   * orders genuinely disagree on unnormalized embeddings. Same
   * broadcast-queries shape as [[bruteForceTopK]]; the dot product is
   * a left-to-right double fold over the casted arrays (matching
   * DuckDB's list_dot_product evaluation order, the q32 parity
   * contract).
   */
  def dotTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qvec"))
    val dot = aggregate(
      zip_with(col(vec).cast("array<double>"), col("__qvec").cast("array<double>"),
        (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val w = Window.partitionBy("query_id").orderBy(col("__gsim").desc, col(id).asc)
    corpus
      .join(broadcast(q), col(id) =!= col("query_id"))
      .withColumn("__gsim", dot)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(id).as("neighbor_id"))
  }

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009): combine two rankings
   * of the same query set into one, scoring each item 1/(c+rankA) +
   * 1/(c+rankB) (0 for a list it missed) — the standard no-training
   * way to merge heterogeneous retrievers (cosine + inner-product,
   * dense + sparse). Both inputs are (query_id, rank, neighbor_id)
   * frames. The score is two exact reciprocals added in a fixed order,
   * so the fused order is engine-identical; ties break on neighbor id.
   * One key-partitioned full-outer join + one rank window.
   */
  def rrfFusion(
      a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    require(k > 0 && c >= 0, "rrfFusion needs k > 0 and c >= 0")
    val ra = a.select(col("query_id"), col("neighbor_id"), col("rank").as("__gra"))
    val rb = b.select(col("query_id"), col("neighbor_id"), col("rank").as("__grb"))
    val score =
      coalesce(lit(1.0d) / (lit(c) + col("__gra")), lit(0.0d)) +
        coalesce(lit(1.0d) / (lit(c) + col("__grb")), lit(0.0d))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__gs").desc, col("neighbor_id"))
    ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("__gs", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /**
   * Ranking-agreement eval: per-query overlap@k between two top-k
   * rankings (e.g. cosine vs inner-product retrieval) — the cheap
   * diagnostic for "does normalization change what we retrieve?", and
   * the same overlap harness evaluates an ANN stage against its exact
   * ground truth when both are materialized. Exact: set intersection by
   * join on (query, neighbor), count, ONE division by the literal k.
   * Queries with zero overlap still appear (left join + zero fill).
   * Both inputs are rank frames of k·|queries| rows — eval-sized.
   */
  def topKOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k > 0, "topKOverlap needs k > 0")
    val fa = a.filter(col("rank") <= k).select(col("query_id"), col("neighbor_id"))
    val fb = b.filter(col("rank") <= k).select(col("query_id"), col("neighbor_id"))
    val common = fa.join(fb, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    fa.select(col("query_id")).distinct()
      .join(common, Seq("query_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("overlap", col("n_common").cast("double") / k)
  }

  /**
   * k-NN majority-vote classification — the label-propagation / weak-
   * supervision primitive: each query vector takes the most common
   * label among its k nearest corpus neighbors (cosine). The vote is
   * deterministic: ties break on (count desc, label asc), and the
   * neighbor set itself is the [[bruteForceTopK]] total order. The
   * label join touches only k·|queries| rows; swap the neighbor stage
   * for [[lshTopK]]/IVF when the corpus outgrows the broadcast query
   * pattern — the voting tail is unchanged.
   */
  def knnClassify(
      spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(spark, corpus, queries, id, vec, k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__gc").desc, col("__glab"))
    nn.join(corpus.select(col(id).as("neighbor_id"), col(labelCol).as("__glab")),
        "neighbor_id")
      .groupBy(col("query_id"), col("__glab")).agg(count(lit(1)).as("__gc"))
      .withColumn("__gr", row_number().over(w))
      .filter(col("__gr") === 1)
      .select(col("query_id"), col("__glab").as("predicted_label"))
  }

  /**
   * Mean reciprocal rank of the first same-label neighbor — the
   * standard retrieval-eval summary ("how high does the first RELEVANT
   * hit rank?") with label match as the relevance oracle, the
   * embedding-quality number reported next to [[topKOverlap]] and the
   * q171 confusion matrix. Per query: RR = 1/rank of its first
   * same-label neighbor within the top k (0 if none); MRR = the mean.
   *
   * Exactness: each reciprocal is one IEEE division, but a double SUM
   * of them would be partition-order dependent — so every RR routes
   * through its Ryu-shortest-string DECIMAL(28,18) image (the q180
   * normalizer trick) and the mean is exact-decimal-sum / n, one final
   * fixed sequence. Frames are eval-sized (k·|queries|).
   * Returns one row (n_queries, mrr).
   */
  def meanReciprocalRank(
      neighbors: DataFrame, labels: DataFrame, id: String,
      labelCol: String, k: Int): DataFrame = {
    require(k > 0, "meanReciprocalRank needs k > 0")
    val lab = labels.select(col(id), col(labelCol))
    val firstHit = neighbors.filter(col("rank") <= k)
      .join(lab.select(col(id).as("query_id"), col(labelCol).as("__gql")), "query_id")
      .join(lab.select(col(id).as("neighbor_id"), col(labelCol).as("__gnl")), "neighbor_id")
      .filter(col("__gql") === col("__gnl"))
      .groupBy(col("query_id")).agg(min(col("rank")).as("__gfirst"))
    val rr = neighbors.select(col("query_id")).distinct()
      .join(firstHit, Seq("query_id"), "left")
      .withColumn("__grr",
        coalesce(toDec(lit(1.0d) / col("__gfirst")), decZero))
    rr.agg(count(lit(1)).as("n_queries"), sum(col("__grr")).as("__gsum"))
      .select(col("n_queries"),
        (toD(col("__gsum")) / col("n_queries").cast("double")).as("mrr"))
  }

  /**
   * Mean NDCG@k with binary same-label relevance — the position-aware
   * retrieval headline beside [[meanReciprocalRank]]: MRR only sees the
   * FIRST hit, NDCG credits every relevant neighbor, discounted by
   * 1/log2(pos+1). Ideal DCG places the query's relevant hits at
   * positions 1..R (R = its relevant count within top-k), so
   * ndcg = DCG/IDCG ∈ (0,1]; queries with no relevant hit contribute
   * exact 0 to the mean rather than dropping out.
   *
   * Determinism: each discount's log2 routes through FLOAT (the q70
   * libm-ulp contract), widens back exactly, and sums via its
   * DECIMAL(28,18) string image (the q197 order-free contract); the
   * DCG/IDCG division and the final mean are single correctly-rounded
   * IEEE steps on engine-identical operands. Ideal positions come from
   * a per-query row_number ordered by (rank) — a total order, ranks
   * are unique per query by construction.
   *
   * Scale: two label probes of the eval-sized neighbor frame + one
   * per-query window + two bounded aggregations — nothing touches the
   * corpus beyond the upstream top-k.
   */
  def ndcgAtK(
      neighbors: DataFrame, labels: DataFrame, id: String,
      labelCol: String, k: Int): DataFrame = {
    require(k > 0, "ndcgAtK needs k > 0")
    val lab = labels.select(col(id), col(labelCol))
    def gain(pos: Column): Column =
      absorb(lit(1.0d) / log2(pos.cast("double") + lit(1.0d)))
    val rel = neighbors.filter(col("rank") <= k)
      .join(lab.select(col(id).as("query_id"), col(labelCol).as("__gql")), "query_id")
      .join(lab.select(col(id).as("neighbor_id"), col(labelCol).as("__gnl")), "neighbor_id")
      .filter(col("__gql") === col("__gnl"))
      .withColumn("__gideal", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rank"))))
    val perQuery = rel.groupBy(col("query_id"))
      .agg(sum(gain(col("rank"))).as("__gdcg"),
        sum(gain(col("__gideal"))).as("__gidcg"))
      .select(col("query_id"),
        (toD(col("__gdcg")) / toD(col("__gidcg"))).as("__gndcg"))
    neighbors.select(col("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left")
      .select(coalesce(toDec(col("__gndcg")), decZero).as("__gn"))
      .agg(count(lit(1)).as("n_queries"), sum(col("__gn")).as("__gsum"))
      .select(col("n_queries"),
        (toD(col("__gsum")) / col("n_queries").cast("double")).as("mean_ndcg"))
  }

  /**
   * Semi-supervised label propagation over a weighted edge frame — the
   * weak-supervision workhorse: a handful of labeled seeds spread to
   * the unlabeled mass through the similarity graph. Each iteration an
   * unlabeled node takes the label with the highest total incoming
   * weight from currently-labeled neighbors; seeds are CLAMPED (they
   * never change — the standard Zhu/Ghahramani condition that stops a
   * dense cluster steamrolling its minority seeds).
   *
   * Determinism: per-(node, label) scores sum the weights via their
   * DECIMAL(28,18) string images (q197 order-free contract — edge
   * weights must be engine-identical doubles, e.g. the q32-parity
   * cosine), so the argmax compares EXACT decimals; score ties break
   * to the smallest label. Fixed iteration count, unrollable as SQL.
   * Nodes no labeled path reaches within `iterations` hops stay NULL —
   * visibly unlabeled rather than silently defaulted.
   *
   * Scale: edges persist once (they feed every iteration — the q151
   * lesson); per iteration one edges⋈labels hash join + one
   * aggregation + one \|candidates\|-sized window, all keyed by node.
   * LSH-bucketed edges ([[embeddingNearDups]]) are the 100 TB edge
   * source; the brute-force kNN entry is the oracle-able demo graph.
   */
  def labelPropagation(
      nodes: DataFrame, seeds: DataFrame, edges: DataFrame,
      id: String, labelCol: String,
      src: String, dst: String, weightCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "labelPropagation needs at least one iteration")
    val e = graft.Caches.persist(edges.select(col(src).as("__gsrc"), col(dst).as("__gdst"),
      toDec(col(weightCol).cast("double")).as("__gw")))
    val sd = graft.Caches.persist(seeds.select(col(id).as("__gsid"), col(labelCol).as("__gslab")))
    var labels = sd.select(col("__gsid").as("node"), col("__gslab").as("lab"))
    (1 to iterations).foreach { _ =>
      val cand = e.join(labels, col("__gsrc") === col("node"))
        .groupBy(col("__gdst"), col("lab"))
        .agg(sum(col("__gw")).as("__gscore"))
      val win = Window.partitionBy(col("__gdst"))
        .orderBy(col("__gscore").desc, col("lab").asc)
      val winners = cand
        .withColumn("__grn", row_number().over(win))
        .filter(col("__grn") === 1)
        .select(col("__gdst").as("node"), col("lab"))
      val nonSeed = winners.join(sd, winners("node") === sd("__gsid"), "left_anti")
      labels = sd.select(col("__gsid").as("node"), col("__gslab").as("lab"))
        .union(nonSeed)
    }
    nodes.select(col(id).as("node")).join(labels, Seq("node"), "left")
      .select(col("node").as(id), col("lab").as(labelCol))
  }

  /**
   * Embedding hygiene audit — the malformed-vector screen BEFORE any
   * cosine math (a NaN poisons every similarity it touches; a zero
   * vector has no direction; a wrong-width vector breaks fixed-dim
   * kernels): per vector, its dimension count and exact boolean flags.
   * Pure per-row higher-order expressions, zero shuffle, no floats in
   * the output.
   */
  def embeddingAudit(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id),
      size(col(vec)).as("n_dims"),
      exists(col(vec), x => isnan(x)).as("has_nan"),
      forall(col(vec), x => !isnan(x) && x === 0f).as("all_zero"))

  /**
   * Random-hyperplane signature: bit j = sign(v · h_j) where h_j is a
   * Rademacher (±1) vector derived deterministically from xxhash64(j, i).
   * Computed per-row with higher-order expressions — no stored model, no
   * shuffle; the same expression reproduces the same planes on any
   * cluster.
   */
  def hyperplaneBucket(vec: Column, bits: Int, seed: Int = 42): Column =
    (0 until bits).map { j =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => when(shiftright(xxhash64(lit(seed), lit(j), i), 7)
            .bitwiseAND(lit(1L)) === 1L, x).otherwise(-x)),
        lit(0.0d), (acc, x) => acc + x)
      when(dot > 0.0d, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /**
   * All `tables` bucket ids of a vector — one independent b-bit
   * hyperplane signature per table (seeded per table), the
   * OR-amplification construction: a true neighbor pair is a candidate
   * if it collides in ANY table, so the miss probability drops from
   * (1-p^b) to (1-p^b)^T. One-pass codegen
   * [[graft.plans.HyperplaneSignatures]] — bit-identical to building
   * [[hyperplaneBucket]] per table (seed + t·7919), without
   * materializing tables·bits intermediate arrays per row.
   */
  def hyperplaneSignatures(
      spark: SparkSession, vec: Column, bits: Int, tables: Int, seed: Int = 42): Column = {
    GraftFunctions.register(spark)
    call_function(GraftFunctions.hyperplanesName, vec, lit(bits), lit(tables), lit(seed))
  }

  /**
   * Occupancy-targeted hyperplane signature width: the smallest `bits`
   * with mean bucket occupancy `n / 2^bits <= targetOccupancy`, clamped
   * to [4, 20]. Deterministic in n — the same corpus always hashes with
   * the same planes, so an incremental re-run reproduces its buckets.
   * 2000 vectors at the default target → 6 bits (the long-standing
   * sf0.1 setting); 10× data adds ⌈log2 10⌉ ≈ 3-4 bits, holding
   * per-bucket join work constant instead of letting it grow ~100×.
   */
  def autoBits(n: Long, targetOccupancy: Int = 32): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.max(4, math.min(20, needed))
  }

  /** The signature width [[embeddingNearDups]] actually runs with:
   *  explicit `bits` when positive, else [[autoBits]] of the frame's
   *  count (one bounded agg-to-literal, metadata-cheap on parquet).
   *  Exposed so ScaleSpec can assert the width chosen at a replicated
   *  scale-step size without executing the self-join. */
  private[graft] def chosenBits(df: DataFrame, bits: Int): Int =
    if (bits > 0) bits else autoBits(df.count())

  /** Declarative reference form of [[hyperplaneSignatures]] (kept as the
   *  parity oracle for the codegen expression; specs compare the two). */
  def hyperplaneTables(vec: Column, bits: Int, tables: Int, seed: Int = 42): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("table"),
        hyperplaneBucket(vec, bits, seed + t * 7919).as("bucket"))
    }: _*)

  /**
   * Random-hyperplane LSH candidate pairs over an ENGINE-PORTABLE
   * Rademacher family — the hash-trust twin of [[embeddingNearDups]]/
   * [[lshTopK]]'s seeded-xxhash planes (q33/q34), the q212 upgrade
   * applied to the hyperplane family: plane component (t, j, pos) is
   * ±1 by the PARITY of the md5-derived 60-bit integer of "t:j:pos",
   * so a second engine with md5 replays every dot-product sign,
   * bucket id, and candidate pair bit-for-bit. Bit j of table t's
   * b-bit signature = [Σ_pos ±v\[pos\] > 0], the sum taken over FLOAT
   * images via DECIMAL(28,18) strings (q197 order-free contract — a
   * plain double sum's SIGN could flip with partition order exactly
   * at the hyperplane's knife edge; the decimal sum cannot).
   *
   * Scale shape: the ±1 plane table is materialized ONCE —
   * tables·bits·d rows built off the distinct positions (one
   * column-pruned scan) — and BROADCAST onto the pos-exploded
   * vectors; the broadcast join fans each (vec, pos) row out
   * ×(tables·bits), the signature-build cost every hyperplane LSH
   * pays, but each fan-out row is a lookup, not an md5 evaluation
   * (computing the hash per fan-out row would re-derive the same
   * tables·bits·d parities n times). Dot sums map-side-combine to
   * \|corpus\|·tables·bits rows, roll to bucket rows
   * (\|corpus\|·tables), PERSISTED before the self-join (q151 rule)
   * → one (table, bucket)-keyed join. Never all-pairs;
   * OR-amplification across `tables` independent tables exactly as
   * [[hyperplaneTables]]. The codegen
   * [[graft.plans.HyperplaneSignatures]] path stays the production
   * hot path (one pass, no fan-out); this twin puts the
   * signature→bucket→pair machinery under an external-oracle check.
   *
   * `maxBucketSize > 0` applies the [[capBuckets]] contract to the
   * bucket frame: degenerate (table, bucket) groups above the cap —
   * e.g. near-zero vectors all signing identically into bucket 0 —
   * drop before the self-join, bounding it at O(cap²) per bucket.
   * The default 0 is the exact, oracle-stated form.
   *
   * Returns (id_a, id_b, n_tables): candidate pairs with the number
   * of tables they collide in, id_a < id_b.
   */
  def hyperplaneMd5Pairs(
      df: DataFrame, id: String, vecCol: String,
      bits: Int = 8, tables: Int = 2, maxBucketSize: Int = 0): DataFrame = {
    require(bits >= 1 && bits <= 30 && tables >= 1,
      "hyperplaneMd5Pairs needs 1 <= bits <= 30 and tables >= 1")
    val x = df.select(col(id).as("__hid"),
      posexplode(col(vecCol)).as(Seq("pos", "__hv")))
    val tj = explode(array((for (t <- 0 until tables; j <- 0 until bits)
      yield struct(lit(t).as("t"), lit(j).as("j"))): _*)).as("__htj")
    val parity = conv(substring(
      md5(concat_ws(":", col("__ht"), col("__hj"), col("pos"))), 1, 15), 16, 10)
      .cast("long") % 2
    val planes = x.select(col("pos")).distinct()
      .select(col("pos"), tj)
      .select(col("pos"), col("__htj.t").as("__ht"), col("__htj.j").as("__hj"))
      .withColumn("__hsign", when(parity === 1L, lit(1)).otherwise(lit(-1)))
    val dots = x.join(broadcast(planes), "pos")
      .select(col("__hid"), col("__ht"), col("__hj"),
        absorb(when(col("__hsign") === 1, col("__hv")).otherwise(-col("__hv")))
          .as("__hterm"))
      .groupBy(col("__hid"), col("__ht"), col("__hj"))
      .agg(sum(col("__hterm")).as("__hdot"))
    val buckets = dots.groupBy(col("__hid"), col("__ht"))
      .agg(sum(when(col("__hdot") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), __hj)")).otherwise(lit(0L)))
        .as("__hbucket"))
      .transform(graft.Caches.persist)
    val capped = capBuckets(buckets, Seq("__ht", "__hbucket"), maxBucketSize)
    capped.select(col("__hid").as("id_a"), col("__ht"), col("__hbucket"))
      .join(capped.select(col("__hid").as("id_b"), col("__ht"), col("__hbucket")),
        Seq("__ht", "__hbucket"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_tables"))
  }

  /**
   * Drop rows that land in degenerate (table, bucket) groups larger than
   * `maxBucketSize` — e.g. near-zero vectors all signing identically.
   * Bounds the within-bucket join at O(cap²) per bucket; the pairs lost
   * are those whose ONLY collision was inside a degenerate bucket, which
   * OR-amplification makes unlikely for true neighbors. Costs one
   * count-window shuffle of the exploded corpus on (table, bucket); in
   * [[embeddingNearDups]] the subsequent self-join reuses that
   * partitioning, in [[lshTopK]] (broadcast join) it does not.
   */
  private def capBuckets(bucketed: DataFrame, maxBucketSize: Int): DataFrame =
    capBuckets(bucketed, Seq("__gtable", "__gbucket"), maxBucketSize)

  /** The generalized cap: drop rows in (partCols…) groups larger than
   *  `maxBucketSize` — shared by the seeded-xxhash LSH path, the md5
   *  hash-trust twins, and [[Dedup.simHashMd5]], so the cap semantics
   *  cannot silently diverge across the banding family. */
  private[operators] def capBuckets(
      bucketed: DataFrame, partCols: Seq[String], maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) bucketed
    else {
      val w = Window.partitionBy(partCols.map(col): _*)
      bucketed
        .withColumn("__gbsize", count(lit(1)).over(w))
        .filter(col("__gbsize") <= maxBucketSize)
        .drop("__gbsize")
    }

  /**
   * Approximate top-k: corpus and queries are bucketed by `tables`
   * independent b-bit hyperplane signatures; ranking happens only over
   * the union of the query's buckets (deduped per pair before the
   * cosine, so multi-table collisions don't recompute). Probe cost is
   * ~|corpus|·T/2^b; recall follows 1-(1-p^b)^T. With maxBucketSize = 0
   * the corpus side never shuffles (queries broadcast; per-pair dedup and
   * ranking shuffle only the candidate set); a positive cap adds one
   * full shuffle of the exploded corpus for the bucket-size window.
   */
  def lshTopK(
      spark: SparkSession,
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int, bits: Int = 8, tables: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    val bucketed = capBuckets(
      corpus.select(col(id), col(vec),
        posexplode(hyperplaneSignatures(spark, col(vec), bits, tables))
          .as(Seq("__gtable", "__gbucket"))),
      maxBucketSize)
    val q = queries
      .select(col(id).as("query_id"), col(vec).as("__qvec"))
      .select(col("query_id"), col("__qvec"),
        posexplode(hyperplaneSignatures(spark, col("__qvec"), bits, tables))
          .as(Seq("__gqtable", "__gqbucket")))
    val w = Window.partitionBy("query_id").orderBy(col("__gsim").desc, col(id).asc)
    bucketed
      .join(broadcast(q),
        col("__gtable") === col("__gqtable") && col("__gbucket") === col("__gqbucket") &&
          col(id) =!= col("query_id"))
      .dropDuplicates("query_id", id)
      .withColumn("__gsim", cosine(spark, col(vec), col("__qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(id).as("neighbor_id"))
  }

  /** K-means centroids: cluster id → centroid, ascending by id. */
  type Centroids = Seq[(Int, Seq[Double])]

  /** [[sqDist]]'s accumulator: DECIMAL(37,18) plus a DECIMAL(28,18)
   *  term types as (38,18), so the fold keeps its scale — a (38,18)
   *  accumulator would type the sum (39,18), which Spark's
   *  precision-loss rule rounds to (38,17). */
  private val distAcc = "decimal(37,18)"

  /**
   * Exact squared Euclidean distance of a vector to a double centroid,
   * the one spelling k-means assigns and scores with: each term
   * (v − c)² absorbs to its FLOAT image and the terms sum as decimals
   * (the q197 contract), so a distance — and any comparison of two — is
   * engine-identical. A position past either array's end is NULL and
   * adds nothing (the q228/q229 oracles join on position).
   */
  private def sqDist(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (x, m) => { val d = x.cast("double") - m; absorb(d * d) }),
      lit(0).cast(distAcc), (acc, t) => (acc + coalesce(t, decZero)).cast(distAcc))

  /**
   * The one k-means assignment kernel, with ZERO shuffle: the k
   * centroids ride into the plan as one literal array and each row
   * takes the argmin of ([[sqDist]], cluster id) — equal distances go
   * to the lower id — in two row-local projections: no join, no row
   * explosion, no window. Adds `cluster_id`; `vec` is an ARRAY<FLOAT>
   * or ARRAY<DOUBLE>.
   *
   * Only candidates near the minimum are summed exactly. A centroid's
   * double distance a — the same terms summed in double by the native
   * [[graft.plans.SquaredL2]] — is within 1e-6·a + 1e-9 of its exact
   * distance for fewer than 1e9 terms: the FLOAT image moves a term by
   * 2^-24 of itself, the DECIMAL scale by 1e-18, and recursive double
   * summation by n·2^-53 of the sum. A centroid whose a exceeds the
   * smallest, amin, by more than amin·1e-5 + 1e-8 therefore has a
   * strictly larger exact distance than the nearest's: it can neither
   * win nor tie. The exact argmin runs over the centroids inside that
   * margin, and a row whose nearest is alone there — nearly every row —
   * is assigned without summing a single decimal.
   */
  def assignToCentroids(df: DataFrame, vec: String, centroids: Centroids): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val v = col(vec)
    // (a, cid) ascending, in a projection of its own: the next one reads
    // it several times, so the optimizer keeps the two apart and the
    // sort runs once per row
    val byA = df.withColumn("__gcand", sort_array(transform(typedLit(centroids), c =>
      struct(call_function(GraftFunctions.sqL2Name, v, c.getField("_2")).as("a"),
        c.getField("_1").as("cid")))))
    val Seq(nearest, second) = Seq(1, 2).map(i => try_element_at(col("__gcand"), lit(i)))
    val margin = nearest.getField("a") * 1.00001 + 1e-8
    val byCid = typedLit(centroids.toMap)
    val exactMin = array_min(transform(filter(col("__gcand"), s => s.getField("a") <= margin),
      s => struct(sqDist(v, element_at(byCid, s.getField("cid"))).as("d"), s.getField("cid").as("cid"))))
    // non-nullable (-1 only with no centroid at all): an isnotnull a
    // join on cluster_id infers then folds away instead of being pushed
    // below the projection, where it would run the kernel a second time
    byA.withColumn("cluster_id", coalesce(
      when(coalesce(second.getField("a") > margin, lit(true)), nearest.getField("cid"))
        .otherwise(exactMin.getField("cid")),
      lit(-1))).drop("__gcand")
  }

  /** Exact per-cluster means of the raw components ([[meanEmbedding]],
   *  the q72 recipe), collected as the next literal centroids — k·d
   *  values, the agg-to-literal class. A cluster with no member is
   *  absent. */
  private def clusterMeans(assigned: DataFrame, cluster: String, vec: String): Centroids =
    meanEmbedding(assigned, cluster, vec).collect().toSeq
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (cid, rows) => cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)) }

  /**
   * The one Lloyd loop, shared by exact k-means ([[kmeansLloyd]]) and
   * the IVF quantizer ([[ivfCentroids]]). Seeds are the vectors of the
   * k smallest `key`s (cluster ids 0..k−1 in that order; no RNG); each
   * of `updates` rounds assigns with [[assignToCentroids]] and collects
   * the exact per-cluster means as the next literal set. A cluster that
   * attracts no member vanishes (its centroid is undefined) — the
   * standard Lloyd degeneracy, surfaced rather than papered over.
   *
   * Every iterate is an exact decimal mean of raw floats compared by
   * exact decimal distances, so it is engine-identical by induction and
   * run-to-run stable. Literal centroids also truncate the lineage: a
   * round's plan reads the input and k·d constants, never an earlier
   * round, so nothing is checkpointed or cached.
   */
  private def lloydCentroids(
      df: DataFrame, key: Column, vec: String, k: Int, updates: Int): Centroids = {
    // a seed with no component has no centroid: its cluster is absent
    // from the start, as the q228 oracle's position join leaves it
    val seeds = df.orderBy(key).limit(k).select(col(vec).cast("array<double>")).collect().toSeq
      .map(_.getSeq[Double](0)).zipWithIndex
      .collect { case (c, cid) if c != null && c.nonEmpty => cid -> c }
    (1 to updates).foldLeft(seeds) { (cents, _) =>
      clusterMeans(assignToCentroids(df, vec, cents), "cluster_id", vec)
    }
  }

  /**
   * The IVF coarse quantizer: [[lloydCentroids]] over a bounded
   * deterministic sample — the `trainSampleSize` first vectors of the
   * hash order (the md5-order trick of Relational.stratifiedSample), so
   * each round scans O(sample) rows, never the corpus; `0` trains on
   * the whole corpus. The loop key is (xxhash64(id), id), so the seeds
   * are the first `nlist` vectors of that same order: low ids are often
   * insertion-correlated (same-batch near-dups would seed near-identical
   * centroids), the hash order is an unbiased deterministic spread. The
   * sample is cached for the loop and released on return.
   */
  def ivfCentroids(
      corpus: DataFrame, id: String, vec: String, nlist: Int = 16,
      iterations: Int = 3, trainSampleSize: Int = 4096): Centroids =
    graft.Caches.scoped { scope =>
      val keyed = corpus.select(struct(xxhash64(col(id)), col(id)).as("__gkey"), col(vec))
      val train =
        if (trainSampleSize > 0) scope.persist(keyed.orderBy(col("__gkey")).limit(trainSampleSize))
        else keyed
      lloydCentroids(train, col("__gkey"), vec, nlist, iterations)
    }

  /**
   * IVF approximate top-k: the corpus is coarsely quantized once into
   * `nlist` centroid cells (in production the assignment is persisted as
   * a bucketed table); each query probes only its `nprobe` nearest cells,
   * so probe cost is ~|corpus|·nprobe/nlist instead of |corpus|. The
   * centroid table is tiny and broadcast everywhere — the corpus never
   * shuffles for a search. The quantizer ([[ivfCentroids]]) trains on a
   * bounded deterministic sample (default 4096 vectors), never the full
   * corpus.
   */
  def ivfTopK(
      spark: SparkSession,
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iterations: Int = 3,
      trainSampleSize: Int = 4096): DataFrame = {
    val centroids = ivfCentroids(corpus, id, vec, nlist, iterations, trainSampleSize)
    val cells = assignToCentroids(corpus, vec, centroids)
    probeCells(spark, cells, centroidsToDf(spark, centroids), queries, id, vec, k, nprobe)
  }

  /**
   * Mean embedding per group (average pooling — the standard reduction
   * from member vectors to a group centroid). Exact and
   * order-independent: each float component is widened to DECIMAL
   * before summing ([[graft.functions.Exact]]'s trick), so the per-group
   * mean does not depend on partial-aggregation merge order and
   * hash-matches an engine that sums in any other order. One
   * posexplode + one (group, pos) aggregation — fully map-side
   * combinable, no windows, no collect. Returns (group, pos, mean) in
   * long form: scalar rows, the shape downstream joins and the
   * correctness oracle both want; `array_agg(... ORDER BY pos)` is one
   * more aggregation away if a caller needs the packed vector.
   */
  def meanEmbedding(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "__gv")))
      .groupBy(col(groupCol), col("pos"))
      // float → shortest STRING → decimal, never float → decimal
      // (Exact's shortest-string encoding: the only float image both
      // engines agree on)
      .agg(decMean(col("__gv")).as("mean"))

  /**
   * Embedding-coherence audit: each vector's cosine similarity to its
   * own group's mean embedding ([[meanEmbedding]] centroid) — the
   * outlier dial an embedding-curation pass reads before training
   * (mislabeled or corrupted vectors sit far below their class peers;
   * the CLIP-filtering shape applied to labels instead of captions).
   *
   * Determinism: centroids are [[meanEmbedding]]'s exact-decimal
   * means; every dot/norm term's product (double × double, elements
   * widened float→double exactly) absorbs to its FLOAT image and sums
   * via DECIMAL(28,18) strings (q197 order-free contract); the final
   * cosine is one fixed IEEE sequence; zero-norm sides → NULL.
   *
   * Scale shape: the centroid frame is \|groups\|·dim rows —
   * broadcast back onto the pos-exploded vectors (never a window);
   * one (group, pos)-keyed join → one per-vector aggregation. The
   * source table is scanned twice (centroid pass + vector pass), both
   * column-pruned scans, not recomputed intermediates.
   */
  def centroidCosine(
      df: DataFrame, id: String, groupCol: String, vecCol: String): DataFrame = {
    val cent = meanEmbedding(df, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("mean").as("__gc"))
    val vecs = df.select(col(id), col(groupCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "__gv")))
    val m = vecs.join(broadcast(cent), Seq(groupCol, "pos"))
      .groupBy(col(id), col(groupCol)).agg(
        sum(absorb(col("__gv") * col("__gc"))).as("__gdot"),
        sum(absorb(col("__gv") * col("__gv"))).as("__gnv"),
        sum(absorb(col("__gc") * col("__gc"))).as("__gnc"))
    val Seq(dot, nv, nc) = Seq("__gdot", "__gnv", "__gnc").map(c => toD(col(c)))
    m.select(col(id), col(groupCol),
      when(nv > 0 && nc > 0, dot / (sqrt(nv) * sqrt(nc))).as("cos_centroid"))
  }

  /**
   * First principal component of the embedding cloud via power
   * iteration on the EXACT covariance — the dominant-direction audit
   * (a first PC that explains most variance means the "embedding
   * space" is nearly a line: collapsed representations, a failed
   * encoder) and the whitening/dimensionality primitive. Fixed
   * `iters` keeps the whole computation expressible as unrolled SQL,
   * the q209 PageRank contract.
   *
   * Determinism, by induction over iterations (the q209 argument):
   * per-position means are exact-decimal (q72); every cross-moment
   * c_i·c_j, matvec term C_ij·v_j, and squared norm term absorbs to
   * its FLOAT image and sums via DECIMAL(28,18) strings (q197
   * order-free contract); normalization is one sqrt + one division
   * per position (sqrt is correctly rounded cross-libm); v₀ =
   * 1/√d > 0 everywhere. Each iterate is therefore bit-identical in
   * any engine. Zero-variance input → NULL loadings by the norm
   * guard, never ±Inf.
   *
   * Scale: the per-position means are collected as DIMENSION-BOUNDED
   * literals (the k-means-centroid agg-to-literal convention), so
   * centering is a per-row projection — no broadcast join, no centered
   * cache. Each vector row then generates its OWN upper-triangle term
   * rows (posexplode × posexplode-of-slice), so the n·d²/2 decimal
   * products are built MAP-SIDE and partially aggregated before the
   * only data-sized exchange (≤ parts·d² partial rows). The previous
   * self-join shape shuffled the n·d centered frame and re-ran the
   * full term aggregation once per union branch — and at small scale
   * AQE coalesced that reduce stage to ONE task (bytes are tiny, the
   * generated-term compute is not), serializing ~n·d²/2 decimal-string
   * casts onto a single core twice (profiled: 2 × 6-8 s of a 10 s
   * query at sf0.1). The explicit `repartition(parts, id)` keys the
   * term stage deterministically (never round-robin — SPARK-38388) and
   * is AQE-coalesce-proof; `parts` scales with the estimated term
   * count (~1M terms per task), clamped to [cores, 16× cores].
   * Iterations run on the checkpointed half grid with d-row vector
   * frames — driver holds only the bounded dimension count, read off
   * that checkpoint's own row count.
   *
   * `trainSampleSize > 0` is the AT-SCALE DEFAULT: loadings are
   * trained on a bounded deterministic sample (hash-ordered top-n,
   * the [[ivfCentroids]] quantizer precedent), so the
   * n·d² covariance build reads O(sample·d²) term rows instead of
   * scanning 100 TB. A dominant direction is statistically stable far
   * below corpus size WHEN the spectrum has one: PcaSampleSpec pins
   * \|cos(sample, full)\| ≥ 0.99 at sf0.01 (50% sample, λ1/λ2 ≈ 15).
   * On a near-isotropic cloud (raw sf0.01 embeddings: λ1/λ2 ≈ 1.01)
   * no estimator — sampled or full — has a stable first PC, so the
   * sample answers exactly as well as the scan does.
   * `0` (the oracle-entry default) trains on the full frame, exactly
   * as before — q224/q226's unrolled-SQL twins replay it verbatim.
   */
  def pcaPower(
      df: DataFrame, id: String, vecCol: String, iters: Int = 3,
      trainSampleSize: Int = 0): DataFrame = {
    require(iters >= 1, "pcaPower needs iters >= 1")
    // bounded deterministic sample: TakeOrderedAndProject over the
    // hash order (no full sort shuffle), identical on any cluster
    val train =
      if (trainSampleSize > 0)
        df.select(col(id), col(vecCol))
          .orderBy(xxhash64(col(id)).asc, col(id).asc)
          .limit(trainSampleSize)
      else df
    // global per-position means — [[meanEmbedding]]'s exact-decimal
    // recipe without a group key — COLLECTED: d (pos, mean) doubles is
    // the bounded agg-to-literal class (the k-means-centroid
    // precedent), and literal means turn centering into a per-row
    // projection instead of a broadcast join. The per-pos row count
    // rides along to size the term-stage parallelism without an extra
    // pass.
    val meansRows = train
      .select(posexplode(col(vecCol)).as(Seq("pos", "__gmv")))
      .groupBy(col("pos"))
      .agg(decMean(col("__gmv")).as("mean"), count(lit(1)).as("__gnp"))
      .orderBy(col("pos")).collect()
    // posexplode positions are 0-based and dense per row, so the global
    // set is 0..d-1 — element_at(meanArr, pos+1) below relies on it
    require(meansRows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      "pcaPower: non-dense position set")
    val meanArr =
      if (meansRows.isEmpty) lit(null).cast("array<double>")
      else array(meansRows.map(r => lit(r.getDouble(1))): _*)
    val dDims = meansRows.length.toLong
    val nVecs = if (meansRows.isEmpty) 0L else meansRows.map(_.getLong(2)).max
    // term-stage parallelism: ~1M generated terms per task, clamped to
    // [cores, 16x cores] ([[Gates.width]]). The explicit
    // keyed repartition is deliberate: the n-row vector frame is tiny
    // in BYTES (one small parquet split at bench scale, one AQE-
    // coalesced partition post-shuffle) but each row explodes into
    // d²/2 decimal-string terms — sized by bytes the whole covariance
    // build serializes onto one core.
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts = Gates.width(cores, nVecs * dDims * dDims / 2, 1000000L, cores)
    // the covariance is symmetric: each row generates only its upper
    // triangle (i ≤ j — halves the decimal-summed term volume, the
    // expensive part) map-side, partial-aggregated before the only
    // exchange; the strict half is mirrored afterwards — the mirrored
    // value is the SAME aggregated double, so the full grid is
    // bit-identical to aggregating both orders
    val carr = train
      .select(col(id).as("__gvid"), col(vecCol).cast("array<double>").as("__gvec"))
      .repartition(parts, col("__gvid"))
      .select(transform(col("__gvec"),
        (v, i) => v - element_at(meanArr, i + lit(1))).as("__gc"))
    val covUpper = carr
      .select(col("__gc"), posexplode(col("__gc")).as(Seq("__gi", "__gci")))
      // j = i..d-1 via a 1-based slice starting at element i (index
      // i+1), length len-i; the slice position p is 0-based so
      // j = i + p — the diagonal rides at p = 0
      .select(col("__gi"), col("__gci"),
        posexplode(slice(col("__gc"), col("__gi") + lit(1),
          size(col("__gc")) - col("__gi"))).as(Seq("__gp", "__gcj")))
      .select(col("__gi"), (col("__gi") + col("__gp")).as("__gj"),
        absorb(col("__gci") * col("__gcj")).as("__gt"))
      .groupBy(col("__gi"), col("__gj"))
      .agg((toD(sum(col("__gt"))) /
        count(lit(1)).cast("double")).as("__gcov"))
    graft.Caches.scoped { scope =>
      // the half grid is CHECKPOINTED (d(d+1)/2 rows — trivial): the
      // union's two branches below each read it, and AQE does NOT reuse
      // the aggregation exchange across the union here (profiled: the
      // second branch re-ran the whole term stage, doubling the expensive
      // part). Its one job also counts the cells, n = d(d+1)/2, so the
      // dimension count costs no job of its own; the scope releases it
      // once the final u/norm are checkpointed — the returned plan never
      // reads it
      val half = scope.checkpoint(covUpper)
      val d = ((math.sqrt(8.0 * half.rows + 1) - 1) / 2).round
      require(d * (d + 1) / 2 == half.rows, s"pcaPower: ${half.rows} cells is not a triangle")
      val cov = half.df.unionByName(
        half.df.filter(col("__gi") < col("__gj"))
          .select(col("__gj").as("__gi"), col("__gi").as("__gj"), col("__gcov")))
      // v₀ = 1/√d at every position: one diagonal cell per position
      var v = half.df.filter(col("__gi") === col("__gj")).select(col("__gi").as("pos"),
        (lit(1.0) / sqrt(lit(d.toDouble))).as("__gval"))
      var norm: DataFrame = null
      // rolling checkpoints: generation i is {u_i, norm_i}; once u_{i+1}
      // and norm_{i+1} are eagerly materialized the previous pair is dead
      // and the roller releases it — only the final pair (which the
      // returned plan scans) stays live (CacheHygieneSpec)
      val roller = scope.roller()
      (1 to iters).foreach { _ =>
        // localCheckpoint truncates the per-iteration lineage (the q59/q62
        // iterative-algorithm rule): without it every u/norm/v consumer
        // replays ALL previous iterations' sub-DAGs as separate jobs —
        // exponential in the iteration count even over a checkpointed cov
        val u = roller.roll(cov.join(v, cov("__gj") === v("pos"))
          .groupBy(col("__gi"))
          .agg(toD(sum(absorb(col("__gcov") * col("__gval")))).as("__gu"))).df
        norm = roller.roll(u.agg(
          sqrt(toD(sum(absorb(col("__gu") * col("__gu"))))).as("__gnorm"))).df
        roller.advance()
        v = u.crossJoin(broadcast(norm))
          .select(col("__gi").as("pos"),
            when(col("__gnorm") > 0, col("__gu") / col("__gnorm")).as("__gval"))
      }
      v.crossJoin(broadcast(norm))
        .select(col("pos"), col("__gval").as("loading"),
          when(col("__gnorm") > 0, col("__gnorm")).as("eigenvalue"))
    }
  }

  /**
   * Projection onto [[pcaPower]]'s first principal component: each
   * vector's centered dot product with the dominant loading — the 1-D
   * coordinate a whitening/visualization/binning pass consumes, and
   * the input to drift checks along the direction that actually
   * carries the variance.
   *
   * Determinism: loadings come from [[pcaPower]] (bit-identical by
   * induction); each projection term (c_i · loading_i) absorbs to its
   * FLOAT image and sums via DECIMAL(28,18) strings. Zero-variance
   * input → NULL loadings → NULL projections (aggregates of all-NULL
   * are NULL in both engines).
   *
   * Scale: the loadings frame is d rows — broadcast onto the
   * pos-exploded centered vectors; one (vec)-keyed aggregation. The
   * means/centered pass re-scans the source (column-pruned), it never
   * replays an expensive intermediate.
   */
  def pcaProject(
      df: DataFrame, id: String, vecCol: String, iters: Int = 3): DataFrame =
    pcaProject(df, id, vecCol,
      pcaPower(df, id, vecCol, iters).select(col("pos"), col("loading")))

  /** [[pcaProject]] against an ALREADY-COMPUTED loadings frame
   *  ([[pcaPower]] output, columns `(pos, loading)`): callers that
   *  need loadings AND projections (q224+q226) run the n·d² covariance
   *  build once and reuse the d-row result — the
   *  [[minHashMd5Signatures]] shared-stage factoring applied to the
   *  PCA family. The composed overload above stays the oracle-entry
   *  form (its unrolled SQL replays end-to-end). */
  def pcaProject(
      df: DataFrame, id: String, vecCol: String,
      loadings: DataFrame): DataFrame = {
    val means = df.select(posexplode(col(vecCol)).as(Seq("pos", "__gmv")))
      .groupBy(col("pos"))
      .agg(decMean(col("__gmv")).as("mean"))
    val x = df.select(col(id),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "__gv")))
    x.join(broadcast(means), "pos")
      .join(broadcast(loadings), "pos")
      .groupBy(col(id))
      .agg(toD(sum(absorb((col("__gv") - col("mean")) * col("loading")))).as("pc1"))
  }

  /**
   * Distributed k-means (Lloyd) with a FIXED iteration count and
   * deterministic seeding — the clustering primitive behind corpus
   * mixture analysis and IVF-style partitioning, expressed so every
   * assignment replays bit-identically in an external engine (the
   * q209/q224 unrolled-SQL contract). [[lloydCentroids]] seeded from
   * the k smallest ids runs `iters − 1` centroid updates, and the
   * returned `(id, cluster)` frame is the `iters`-th assignment against
   * the final literal centroids. The IVF quantizer ([[ivfCentroids]])
   * trains through the same loop on its hash-ordered sample.
   *
   * Scale: the input is spread across the cores ([[Par.spread]]) under
   * every round: a narrow scan (one partition at bench scale) would run
   * all n·k·d distance terms and n·d decimal casts in one task. The IVF
   * quantizer's sample is bounded and is not spread. Driver-side: k
   * seed vectors and k·d means per round.
   */
  def kmeansLloyd(
      df: DataFrame, id: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 2 && iters >= 1, "kmeansLloyd needs k >= 2 and iters >= 1")
    val x = Par.spread(df.select(col(id), col(vecCol)), col(id), 2000)
    // a vector with no component has no distance, so no cluster
    assignToCentroids(x.filter(size(col(vecCol)) > 0), vecCol,
      lloydCentroids(x, col(id), vecCol, k, iters - 1))
      .select(col(id), col("cluster_id").as("cluster"))
  }

  /**
   * Cluster-quality rollup over [[kmeansLloyd]]'s assignments: per
   * cluster, the member count and the within-cluster sum of squared
   * distances (SSE/inertia) to the FINAL exact-decimal centroid — the
   * "did k fit" elbow readout and the regression dial a nightly
   * clustering job monitors.
   *
   * Determinism: assignments are [[kmeansLloyd]]'s (bit-identical by
   * induction); final centroids are q72-recipe exact-decimal means
   * over those assignments; each member's distance is the kernel's
   * exact decimal [[sqDist]], and the per-cluster SSE is a sum of those
   * exact decimals — order-free at every level.
   *
   * Scale: one extra pass beyond the Lloyd rounds collects the final
   * k·d centroid literals; the rollup is one cluster-keyed aggregation.
   */
  def kmeansQuality(
      df: DataFrame, id: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansQuality(df, id, vecCol, kmeansLloyd(df, id, vecCol, k, iters))

  /** [[kmeansQuality]] over an ALREADY-TRAINED assignments frame
   *  ([[kmeansLloyd]] output, columns `(id, cluster)`): callers that
   *  need assignments AND quality (q228+q229) pay for Lloyd once —
   *  the [[minHashMd5Signatures]] shared-stage factoring applied to
   *  the clustering family. */
  def kmeansQuality(
      df: DataFrame, id: String, vecCol: String,
      assigned: DataFrame): DataFrame = {
    val members = assigned.join(df.select(col(id), col(vecCol)), id)
    val cents = typedLit(clusterMeans(members, "cluster", vecCol).toMap)
    members.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        toD(sum(sqDist(col(vecCol), element_at(cents, col("cluster"))))).as("sse"))
  }

  /**
   * Nearest-centroid (Rocchio) classification: every vector scored by
   * cosine against EVERY class's mean-embedding centroid, argmax wins
   * — the cheapest embedding classifier (one centroid per class, no
   * neighbor search), the natural baseline under q167's k-NN; emitted
   * next to the true label as a separability readout. Extends
   * [[centroidCosine]] from own-class scoring to the full class set.
   *
   * Determinism: the q222 recipe per (vector, class) — exact-decimal
   * centroids, float-absorbed + decimal-summed dot/norm terms, one
   * fixed IEEE cosine — gives engine-identical doubles, so the argmax
   * (cosine desc NULLS LAST, class asc) orders identically; zero-norm
   * scores are NULL and lose to any real score.
   *
   * Scale: centroid frame is \|classes\|·d rows, broadcast; the
   * dot-product fan-out (corpus × \|classes\| term rows,
   * map-side-combined) is the only stage that pays the class
   * multiplier — the vector norms are summed ONCE per vector (n·d
   * absorb terms, not n·d·\|classes\|: the decimal sum is order-free,
   * so regrouping the identical terms is bit-identical) and the
   * centroid norms once per class on the tiny centroid frame; one
   * id-keyed join and one broadcast join stitch them back, then one
   * rank window over \|classes\| candidates per vector.
   *
   * Each norm covers its OWN side's full position set: for ragged
   * input (vectors of differing width — malformed, see
   * [[embeddingAudit]]) a position absent from the other side
   * contributes 0 to the dot but still counts in its own norm, the
   * standard missing-equals-zero cosine. With uniform dims this is
   * bit-identical to join-restricted norms; the q234 oracle states
   * the same per-side semantics.
   */
  def nearestCentroid(
      df: DataFrame, id: String, labelCol: String, vecCol: String): DataFrame = {
    val cent = meanEmbedding(df, labelCol, vecCol)
      .select(col(labelCol).as("__gcl"), col("pos"), col("mean").as("__gc"))
    // spread before the explode: the dot fan-out (n·d·|classes| decimal
    // terms) otherwise runs map-side inside the unsplittable scan's
    // 1-task stage ([[graft.operators.Par.spread]])
    val vecs = graft.operators.Par.spread(
      df.select(col(id), col(vecCol).cast("array<double>").as("__gvv")),
      col(id), 2000)
      .select(col(id), posexplode(col("__gvv")).as(Seq("pos", "__gv")))
    // two column-pruned passes over the source (the centroidCosine
    // convention: re-projected, never a recomputed intermediate)
    val vnorm = vecs.groupBy(col(id))
      .agg(sum(absorb(col("__gv") * col("__gv"))).as("__gnv"))
    val cnorm = cent.groupBy(col("__gcl"))
      .agg(sum(absorb(col("__gc") * col("__gc"))).as("__gnc"))
    val dots = vecs.join(broadcast(cent), "pos")
      .groupBy(col(id), col("__gcl"))
      .agg(sum(absorb(col("__gv") * col("__gc"))).as("__gdot"))
    val m = dots.join(vnorm, id).join(broadcast(cnorm), "__gcl")
    val Seq(dot, nv, nc) = Seq("__gdot", "__gnv", "__gnc").map(c => toD(col(c)))
    val scored = m.select(col(id), col("__gcl"),
      when(nv > 0 && nc > 0, dot / (sqrt(nv) * sqrt(nc))).as("__gcos"))
    val best = scored.withColumn("__grk", row_number().over(
      Window.partitionBy(col(id))
        .orderBy(col("__gcos").desc_nulls_last, col("__gcl").asc)))
      .filter(col("__grk") === 1)
      .select(col(id), col("__gcl").as("predicted"))
    df.select(col(id), col(labelCol).as("actual"))
      .join(best, id)
      .withColumn("correct", col("actual") === col("predicted"))
  }

  private def centroidsToDf(spark: SparkSession, centroids: Centroids): DataFrame = {
    import spark.implicits._
    centroids.toDF("cluster_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
  }

  /** Shared probe: nprobe nearest cells per query, rank within them. */
  private def probeCells(
      spark: SparkSession, cells: DataFrame, centroidDf: DataFrame,
      queries: DataFrame, id: String, vec: String, k: Int, nprobe: Int): DataFrame = {
    val probes = queries
      .select(col(id).as("query_id"), col(vec).as("__qvec"))
      .join(broadcast(centroidDf))
      .withColumn("__gcsim", cosine(spark, col("__qvec"), col("centroid")))
      .withColumn("__grk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__gcsim").desc, col("cluster_id").asc)))
      .filter(col("__grk") <= nprobe)
      .select(col("query_id"), col("__qvec"), col("cluster_id"))
    val w = Window.partitionBy("query_id").orderBy(col("__gsim").desc, col(id).asc)
    cells
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col(id) =!= col("query_id"))
      .withColumn("__gsim", cosine(spark, col(vec), col("__qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(id).as("neighbor_id"))
  }

  /**
   * Build and persist an IVF index: the tiny centroid table plus the
   * cell-assigned corpus written PARTITIONED BY cluster_id. Production
   * shape: train once, search many — and because cells are physical
   * partitions, a search's broadcast probe join triggers dynamic
   * partition pruning, so only the probed nprobe/nlist of the corpus is
   * READ from storage, not merely not-shuffled.
   */
  def buildIvfIndex(
      spark: SparkSession, corpus: DataFrame, id: String, vec: String,
      indexDir: String, nlist: Int = 16, iterations: Int = 3,
      trainSampleSize: Int = 4096): Unit = {
    val centroids = ivfCentroids(corpus, id, vec, nlist, iterations, trainSampleSize)
    centroidsToDf(spark, centroids)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    assignToCentroids(corpus, vec, centroids)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$indexDir/cells")
  }

  /** Search a persisted IVF index (see [[buildIvfIndex]]). */
  def ivfTopKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      id: String, vec: String, k: Int, nprobe: Int = 4): DataFrame = {
    val centroidDf = spark.read.parquet(s"$indexDir/centroids")
    val cells = spark.read.parquet(s"$indexDir/cells")
    probeCells(spark, cells, centroidDf, queries, id, vec, k, nprobe)
  }

  /**
   * Embedding near-duplicate pairs: multi-table LSH-bucket self-join →
   * cosine in the join projection → per-pair dedup → ≥ threshold. The
   * all-pairs comparison only happens within (table, bucket) groups;
   * the table index participates in the join key, salting the shuffle
   * exactly like MinHash's band index (Dedup.minhashCandidates).
   * `maxBucketSize` bounds degenerate buckets so one hot bucket can
   * never do unbounded quadratic work.
   *
   * The cosine evaluates BEFORE the (id_a, id_b) dedup, so the dedup
   * shuffle carries 24-byte (id, id, cosine) rows instead of both
   * vector payloads — at sf10 (200k × 128-dim, 8 tables) that shuffle
   * was ~25M candidate rows × ~1 KB of vectors, the dominant spill of
   * the q34/q73 pipeline. A pair colliding in k > 1 tables pays the
   * cosine k times instead of once (mean ~1.3× — bounded by `tables`),
   * which is strictly cheaper than shuffling its vectors; the value is
   * bit-identical across duplicates (same inputs, fixed IEEE
   * sequence), so dedup-then-filter ≡ filter-then-dedup and the
   * arbitrary row dropDuplicates keeps cannot change the output. The
   * threshold filter stays ABOVE the dedup aggregate: cosine is a
   * non-key aggregate output there, so PushDownPredicates cannot clone
   * the expression below its projection (the double-evaluation trap a
   * filter directly on a computed projection column springs).
   *
   * `bits <= 0` selects [[autoBits]]: bits sized so mean bucket
   * occupancy stays ~32 regardless of corpus size. Fixed bits are a
   * scale trap — within-bucket candidate work grows with occupancy², so
   * 10× data at constant bits is ~100× join work per bucket (measured:
   * 75 s → 12 s at a 10× scale step by restoring occupancy with +3
   * bits). Auto-bits makes the candidate volume ~n·occupancy·tables,
   * i.e. linear in n at fixed tables. The recall trade is explicit and
   * belongs to `tables`: a pair at angle θ collides in one table with
   * p = (1 − θ/π)^bits, so each +1 bit thins per-table recall and a
   * recall-critical deployment should raise `tables` to keep
   * 1 − (1−p)^tables at target — tables ~ ln(1−R)/ln(1−p) — paying a
   * logarithmic-in-n table count for scale-stable recall. The cosine
   * filter makes precision exact at any (bits, tables).
   */
  def embeddingNearDups(
      spark: SparkSession, df: DataFrame,
      id: String, vec: String, threshold: Double, bits: Int = 12,
      tables: Int = 4, maxBucketSize: Int = 0): DataFrame = {
    val nBits = chosenBits(df, bits)
    val bucketed = capBuckets(
      df.select(col(id).as("__gid"), col(vec).as("__gvec"))
        .select(col("__gid"), col("__gvec"),
          posexplode(hyperplaneSignatures(spark, col("__gvec"), nBits, tables))
            .as(Seq("__gtable", "__gbucket"))),
      maxBucketSize)
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.__gtable") === col("b.__gtable") &&
          col("a.__gbucket") === col("b.__gbucket") &&
          col("a.__gid") < col("b.__gid"))
      .select(col("a.__gid").as("id_a"), col("b.__gid").as("id_b"),
        cosine(spark, col("a.__gvec"), col("b.__gvec")).as("cosine"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Symmetric int8 quantization of an embedding column — the 4× storage
   * cut an embedding store takes before ANN serving: per vector, scale
   * = 127/max|x|, q_i = ⌊x_i·scale + 0.5⌋ (engine-portable floor-shift
   * rounding — `round()` half-rule conventions differ across engines),
   * plus the max absolute reconstruction error |x_i − q_i/scale| as the
   * quality audit. All-zero vectors quantize to zeros with NULL scale
   * and zero error.
   *
   * Determinism: elements widen float→double EXACTLY; scale/quantize/
   * reconstruct are fixed IEEE sequences; max-error is a MAX (order-
   * independent — no float summation anywhere). The quantized array
   * reassembles in position order via sort_array over (pos, q) structs.
   *
   * Scale shape: posexplode → one MAX window on the vector id (the
   * explode evaluates ONCE — computing max|x| and the per-element map
   * as sibling array HOFs would re-evaluate the upstream lambda per
   * element under projection collapse) → one aggregation back to a row
   * per vector, keyed the same as the window partitioning, so the
   * second shuffle is free under AQE exchange reuse.
   */
  def quantizeInt8(
      df: DataFrame, id: String, vec: String): DataFrame = {
    val el = df.select(col(id),
      posexplode(col(vec).cast("array<double>")).as(Seq("__gpos", "__gx")))
    val ma = max(abs(col("__gx"))).over(Window.partitionBy(col(id)))
    val staged = el.withColumn("__gma", ma)
      .withColumn("__gscale", when(col("__gma") > 0, lit(127.0) / col("__gma")))
      .withColumn("__gq", when(col("__gscale").isNotNull,
        floor(col("__gx") * col("__gscale") + lit(0.5)).cast("int"))
        .otherwise(lit(0)))
      .withColumn("__gerr", when(col("__gscale").isNotNull,
        abs(col("__gx") - col("__gq").cast("double") / col("__gscale")))
        .otherwise(lit(0.0)))
    staged.groupBy(col(id))
      .agg(max(col("__gma")).as("max_abs"),
        max(col("__gerr")).as("max_err"),
        transform(
          array_sort(collect_list(struct(col("__gpos"), col("__gq")))),
          s => s.getField("__gq")).as("q8"))
      .select(col(id),
        when(col("max_abs") > 0, lit(127.0) / col("max_abs")).as("scale"),
        col("max_err"), col("q8"))
  }
}
