package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.GraftFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def cosineOf(a: Seq[Float], b: Seq[Float]): Double =
    Seq((a, b)).toDF("x", "y")
      .select(Similarity.cosine(spark, col("x"), col("y")).as("c"))
      .collect().head.getDouble(0)

  test("cosine expression: orthogonal, identical, opposite, zero vectors") {
    assert(cosineOf(Seq(1f, 0f), Seq(0f, 1f)) == 0.0)
    assert(math.abs(cosineOf(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)) - 1.0) < 1e-12)
    assert(math.abs(cosineOf(Seq(1f, 0f), Seq(-1f, 0f)) + 1.0) < 1e-12)
    assert(cosineOf(Seq(0f, 0f), Seq(1f, 1f)) == 0.0) // zero-norm guard
  }

  test("cosine matches a reference double computation") {
    val a = Seq(0.1f, -0.4f, 2.5f, 0.9f)
    val b = Seq(1.3f, 0.2f, -0.7f, 0.5f)
    def d(v: Seq[Float]) = v.map(_.toDouble)
    val (da, db) = (d(a), d(b))
    val want = da.zip(db).map { case (x, y) => x * y }.sum /
      (math.sqrt(da.map(x => x * x).sum) * math.sqrt(db.map(x => x * x).sum))
    assert(cosineOf(a, b) == want)
  }

  test("cosine is registered as a SQL function") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      s"SELECT ${GraftFunctions.cosineName}(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("cosine returns null on dimension mismatch and null elements, never a prefix similarity") {
    val mismatch = Seq((Seq(1f, 0f, 0f), Seq(1f, 0f)))
      .toDF("x", "y")
      .select(Similarity.cosine(spark, col("x"), col("y")).as("c"))
      .collect().head
    assert(mismatch.isNullAt(0))
    val withNullElem = Seq((Seq(Some(1f), None), Seq(Some(1f), Some(0f))))
      .toDF("x", "y")
      .select(Similarity.cosine(spark, col("x"), col("y")).as("c"))
      .collect().head
    assert(withNullElem.isNullAt(0))
  }

  test("cosine propagates null inputs and rejects wrong types at analysis") {
    val withNull = Seq((Some(Seq(1f, 0f)), Option.empty[Seq[Float]]))
      .toDF("x", "y")
      .select(Similarity.cosine(spark, col("x"), col("y")).as("c"))
      .collect().head
    assert(withNull.isNullAt(0))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", "b")).toDF("x", "y")
        .select(Similarity.cosine(spark, col("x"), col("y"))).collect()
    }
    assert(err.getMessage.contains("ARRAY<FLOAT>"))
  }

  test("graft_sq_l2 is the in-order double sum of (x − c)²; ragged and NULL positions add nothing") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.Column
    def sqL2(x: Column, c: Column) = call_function(GraftFunctions.sqL2Name, x, c)
    // the same sum spelled with higher-order functions: zip_with pads
    // the shorter side with NULLs, which coalesce to 0.0
    def declarative(x: Column, c: Column) = aggregate(
      zip_with(x, c, (a, m) => { val d = a.cast("double") - m; d * d }),
      lit(0.0), (acc, t) => acc + coalesce(t, lit(0.0)))
    val rows = Seq(
      (Seq[java.lang.Float](1f, 2f, 3f), Seq(0.5, 2.0, -1.25)),
      (Seq[java.lang.Float](0.1f, 0.2f, 0.3f, 0.4f), Seq(0.3, 0.1)),
      (Seq[java.lang.Float](7f), Seq(1e-12, 3.0, 4.0)),
      (Seq[java.lang.Float](1f, null, 2f), Seq(0.0, 5.0, 0.0)),
    ) ++ (1 to 20).map { i =>
      (Seq.tabulate(64)(j => java.lang.Float.valueOf(math.sin(i * 31.0 + j).toFloat)),
        Seq.tabulate(64)(j => math.cos(i * 17.0 + j) / 3))
    }
    val out = rows.toDF("x", "c")
      .select(sqL2(col("x"), col("c")), declarative(col("x"), col("c")),
        sqL2(col("x").cast("array<double>"), col("c")))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1) && r.getDouble(2) == r.getDouble(1)))
    assert(out(0).getDouble(0) == 0.25 + 0 + 4.25 * 4.25)
    assert(out(2).getDouble(0) == (7.0 - 1e-12) * (7.0 - 1e-12))
    assert(out(3).getDouble(0) == 5.0)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1), Seq(1.0))).toDF("x", "c").select(sqL2(col("x"), col("c"))).collect()
    }
    assert(err.getMessage.contains("ARRAY<FLOAT|DOUBLE>"))
  }

  test("cosine properties on scalacheck vectors: symmetry, bounds, self-similarity") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(16, Gen.chooseNum(-10f, 10f))
    for (seed <- 1L to 8L) {
      val a = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val b = gen.apply(Gen.Parameters.default, Seed(seed + 100)).get
      val ab = cosineOf(a, b)
      val ba = cosineOf(b, a)
      assert(ab == ba, s"symmetry seed=$seed")
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9, s"bounds seed=$seed")
      if (a.exists(_ != 0f))
        assert(math.abs(cosineOf(a, a) - 1.0) < 1e-9, s"self seed=$seed")
    }
  }

  test("bruteForceTopK returns exact neighbors in similarity order") {
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f)),
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    val got = Similarity.bruteForceTopK(spark, corpus, queries, "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L)) // 1 is closest, then orthogonal 2, never -1 direction 3
  }

  test("rrfFusion: consensus items outrank single-list items; missed lists score 0") {
    val a = Seq((0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L)).toDF("query_id", "rank", "neighbor_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 13L)).toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.rrfFusion(a.repartition(2), b, k = 4, c = 60)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    // 11 is in both lists (1/62 + 1/61) and must beat 10 (1/61 alone);
    // 10 (1/61) beats 13 (1/62) beats 12 (1/63)
    assert(got.toSeq == Seq((1, 11L), (2, 10L), (3, 13L), (4, 12L)))
  }

  test("dotTopK ranks by inner product — magnitude matters, unlike cosine") {
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.5f, 0f)), (2L, Seq(3f, 0.5f)),
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    val got = Similarity.dotTopK(corpus, queries, "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    // dot: id2 = 3.0 beats id1 = 0.5; cosine would prefer id1 (aligned)
    assert(got == Seq(2L, 1L))
  }

  test("knnClassify takes the majority neighbor label; ties break on label order") {
    val corpus = Seq(
      (0L, Seq(1f, 0f), "?"),
      (1L, Seq(0.95f, 0.05f), "A"), (2L, Seq(0.9f, 0.1f), "A"),
      (3L, Seq(0.8f, 0.2f), "B"),
      (4L, Seq(-1f, 0f), "B"), (5L, Seq(-0.9f, -0.1f), "B"),
    ).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 0L)
    val got = Similarity.knnClassify(spark, corpus, queries,
        "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // 3-NN of q0: ids 1, 2 (A) and 3 (B) -> majority A
    assert(got.toSeq == Seq((0L, "A")))
    // with k=4 the vote is 2 A vs 2 B -> tie breaks to 'A' (label asc)
    val tied = Similarity.knnClassify(spark, corpus, queries,
        "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(tied.toSeq == Seq((0L, "A")))
  }

  test("embeddingAudit flags NaN and zero vectors with exact booleans, zero shuffle") {
    val d = Seq(
      (1L, Seq(1f, 2f)), (2L, Seq(0f, 0f)), (3L, Seq(Float.NaN, 1f)),
      (4L, Seq.empty[Float])).toDF("vec_id", "embedding")
    val out = Similarity.embeddingAudit(d.repartition(2), "vec_id", "embedding")
    val shuffles = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }
    assert(shuffles.isEmpty, "audit must not shuffle")
    val got = out.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 2, false, false), (2L, 2, false, true),
      (3L, 2, true, false), (4L, 0, false, true)))
  }

  test("lshTopK respects bucket boundaries and never pairs a query with itself") {
    val e = sources.Tables(spark, sf0001).embeddings
    val res = Similarity.lshTopK(spark, e, e.filter(col("vec_id") < 4), "vec_id", "embedding", 3, bits = 4)
    val rows = res.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
  }

  test("IVF: assignment is shuffle-free, probes beat their cell, recall is sane") {
    val e = sources.Tables(spark, sf0001).embeddings
    val centroids = Similarity.ivfCentroids(e, "vec_id", "embedding", nlist = 8,
      trainSampleSize = 0)
    assert(centroids.map(_._1).toSet.size == 8)
    val assigned = Similarity.assignToCentroids(e, "embedding", centroids)
    // zero-shuffle assignment: no exchange in the plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = assigned.queryExecution.executedPlan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty, "centroid assignment must not shuffle the corpus")
    assert(assigned.filter(col("cluster_id") < 0).count() == 0)

    val queries = e.filter(col("vec_id") < 8)
    val ivf = Similarity.ivfTopK(spark, e, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8) // nprobe = nlist -> exhaustive -> exact
    val bf = Similarity.bruteForceTopK(spark, e, queries, "vec_id", "embedding", k = 5)
    val ivfSet = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bfSet = bf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfSet == bfSet, "full-probe IVF must equal brute force")
    val partial = Similarity.ivfTopK(spark, e, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = partial.intersect(bfSet).size.toDouble / bfSet.size
    assert(recall >= 0.1, f"recall@5 with nprobe=2/8 collapsed: $recall%.2f")
  }

  test("assignToCentroids equals the exact argmin over every centroid, near-ties included") {
    // exact reference: every (vector, centroid) distance summed as
    // decimals, then the least (distance, cid)
    def exactArgmin(df: org.apache.spark.sql.DataFrame, cents: Similarity.Centroids) = {
      val c = cents.flatMap { case (cid, m) => m.zipWithIndex.map { case (x, p) => (cid, p, x) } }
        .toDF("cid", "pos", "m")
      val d = col("x").cast("double") - col("m")
      df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .join(c, "pos")
        .groupBy("vec_id", "cid").agg(sum(functions.Exact.absorb(d * d)).as("d"))
        .groupBy("vec_id").agg(min(struct(col("d"), col("cid"))).getField("cid").as("cid"))
        .as[(Long, Int)].collect().toMap
    }
    def kernel(df: org.apache.spark.sql.DataFrame, cents: Similarity.Centroids) =
      Similarity.assignToCentroids(df, "embedding", cents)
        .select("vec_id", "cluster_id").as[(Long, Int)].collect().toMap
    // (1,1) is exactly 2 from (0,0); in double it is 2 − 2e-12 from
    // (2 − 1e-12, 2), but both FLOAT-absorbed terms are 1: an exact tie
    // that the lower cid wins although the double distance favours cid 1
    val tie = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(3.0f, 1.0f))).toDF("vec_id", "embedding")
    val tieCents = Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(2.0 - 1e-12, 2.0), 2 -> Seq(4.0, 0.0))
    assert(kernel(tie, tieCents) == Map(1L -> 0, 2L -> 1))
    assert(exactArgmin(tie, tieCents) == Map(1L -> 0, 2L -> 1))
    // corpus vectors against twin centroids — each seed vector, and the
    // same vector nudged by 1e-12 under the lower cid
    val e = sources.Tables(spark, sf0001).embeddings
    val seeds = e.orderBy("vec_id").limit(6).select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect().toSeq
    val twins = seeds.zipWithIndex.flatMap { case (m, j) =>
      Seq(2 * j -> ((m.head + 1e-12) +: m.tail), (2 * j + 1) -> m)
    }
    val got = kernel(e, twins)
    assert(got.nonEmpty && got == exactArgmin(e, twins))
    // the seeds alone: a row's nearest is nearly always alone inside the
    // margin, so the kernel assigns it on double distances
    val plain = seeds.zipWithIndex.map(_.swap)
    assert(kernel(e, plain) == exactArgmin(e, plain))
  }

  test("codegen HyperplaneSignatures is bit-identical to the declarative form") {
    val e = sources.Tables(spark, sf0001).embeddings
    val (bits, tables) = (5, 7)
    val fused = e.select(col("vec_id"),
      Similarity.hyperplaneSignatures(spark, col("embedding"), bits, tables).as("sig"))
    val reference = e.select(col("vec_id"),
      transform(Similarity.hyperplaneTables(col("embedding"), bits, tables),
        tb => tb.getField("bucket")).as("sig"))
    assert(fused.exceptAll(reference).isEmpty && reference.exceptAll(fused).isEmpty,
      "one-pass expression must reproduce the per-table HOF buckets exactly")
    // interpreted eval path agrees with codegen too
    val row = fused.orderBy("vec_id").limit(1).collect().head
    val expr = graft.plans.HyperplaneSignatures(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        e.orderBy("vec_id").limit(1).select("embedding").as[Array[Float]].collect().head,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      bits, tables, 42)
    assert(expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq == row.getSeq[Int](1))
  }

  test("multi-table LSH recall@5 beats 0.9 vs brute force; single table does not need to") {
    val e = sources.Tables(spark, sf0001).embeddings
    val queries = e.filter(col("vec_id") < 16)
    val bf = Similarity.bruteForceTopK(spark, e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(tables: Int) = {
      val got = Similarity.lshTopK(spark, e, queries, "vec_id", "embedding",
          k = 5, bits = 4, tables = tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    // measured 0.913 on this (deliberately near-random: max neighbor
    // cosine ~0.35 vs 0.29 background p99) corpus — deterministic, the
    // planes are seeded. Real clustered embeddings need far fewer tables.
    val r16 = recall(16)
    assert(r16 >= 0.9, f"OR-amplified recall@5 (16 tables x 4 bits) = $r16%.3f < 0.9")
    assert(r16 >= recall(1), "more tables must never lose recall (candidates are a superset)")
  }

  test("maxBucketSize drops degenerate buckets, bounding quadratic work") {
    val e = sources.Tables(spark, sf0001).embeddings
    // cap below the corpus size: every (table,bucket) group with more
    // members than the cap contributes no pairs at all
    val capped = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding",
      threshold = -1.0, bits = 1, tables = 1, maxBucketSize = 10)
    // 1 bit -> 2 buckets of ~250 each, all above the cap -> zero pairs
    assert(capped.count() == 0, "all buckets exceed the cap, so no pairs may survive")
    val uncapped = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding",
      threshold = 0.3, bits = 6, tables = 8, maxBucketSize = 0)
    val cappedWide = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding",
      threshold = 0.3, bits = 6, tables = 8, maxBucketSize = 500)
    // a cap >= the largest bucket changes nothing
    assert(cappedWide.count() == uncapped.count())
  }

  test("IVF: sample-trained quantizer is bounded yet still exact under full probing") {
    val e = sources.Tables(spark, sf0001).embeddings
    // sample >= corpus: identical to full training (same init, same data)
    val full = Similarity.ivfCentroids(e, "vec_id", "embedding", nlist = 8,
      trainSampleSize = 0)
    val cover = Similarity.ivfCentroids(e, "vec_id", "embedding", nlist = 8,
      trainSampleSize = 1000000)
    // same seeds, same data, exact-decimal means: the very same doubles
    assert(full.nonEmpty)
    assert(cover == full, "covering sample must reproduce full training exactly")
    // tiny sample: quantizer quality drops but full-probe search stays exact
    val queries = e.filter(col("vec_id") < 8)
    val ivf = Similarity.ivfTopK(spark, e, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, trainSampleSize = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(spark, e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == bf, "full-probe IVF must equal brute force regardless of training sample")
  }

  test("persisted IVF index reproduces the in-memory search; full probe == brute force") {
    val e = sources.Tables(spark, sf0001).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").resolve("idx").toString
    Similarity.buildIvfIndex(spark, e, "vec_id", "embedding",
      dir, nlist = 8, trainSampleSize = 64)
    val queries = e.filter(col("vec_id") < 8)
    val fromIndex = Similarity.ivfTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(spark, e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(fromIndex == bf, "full-probe search over the persisted index must equal brute force")
    // partial probe still returns k ranked neighbors per query
    val partial = Similarity.ivfTopKFromIndex(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    assert(partial.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("meanEmbedding averages componentwise, exactly") {
    val d = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)), (1, Seq(5.0f, 7.0f)),
    ).toDF("label", "vec")
    val m = Similarity.meanEmbedding(d, "label", "vec")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(m == Map((0, 0) -> 2.0, (0, 1) -> 4.0, (1, 0) -> 5.0, (1, 1) -> 7.0))
  }

  test("autoBits: occupancy-targeted width — pinned values, clamps, monotone") {
    // the standing corpus sizes: sf0.01 clamps at the floor, sf0.1
    // reproduces the long-pinned 6, a 10x step adds ceil-log2(10) bits
    assert(Similarity.autoBits(200) == 4)
    assert(Similarity.autoBits(2000) == 6)
    assert(Similarity.autoBits(20000) == 10)
    assert(Similarity.autoBits(0) == 4)           // empty corpus: floor
    assert(Similarity.autoBits(Long.MaxValue) == 20) // ceiling clamp
    // monotone non-decreasing in n (spot lattice)
    val widths = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(Similarity.autoBits(_))
    assert(widths == widths.sorted)
  }

  test("embeddingNearDups bits=0 equals the explicit autoBits width end-to-end") {
    val e = sources.Tables(spark, sf0001).embeddings
    val auto = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding",
      threshold = 0.3, bits = 0, tables = 8, maxBucketSize = 2000)
    val pinned = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding",
      threshold = 0.3, bits = Similarity.autoBits(e.count()), tables = 8,
      maxBucketSize = 2000)
    val a = auto.collect().map(_.toString).sorted
    val p = pinned.collect().map(_.toString).sorted
    assert(a.sameElements(p), "auto width must be byte-identical to its explicit twin")
  }

  test("embeddingNearDups only emits pairs above threshold with id_a < id_b") {
    val e = sources.Tables(spark, sf0001).embeddings
    val rows = Similarity.embeddingNearDups(spark, e, "vec_id", "embedding", 0.2, bits = 4).collect()
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.2))
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("meanReciprocalRank: first same-label hit; zero for label-less queries; exact mean") {
    import spark.implicits._
    val neighbors = Seq(
      (1L, 1, 10L), (1L, 2, 11L),   // q1(A): rank1=B, rank2=A -> RR 1/2
      (2L, 1, 12L), (2L, 2, 10L),   // q2(B): rank1=B -> RR 1
      (3L, 1, 11L), (3L, 2, 12L),   // q3(C): no C in top-k -> RR 0
    ).toDF("query_id", "rank", "neighbor_id")
    val labels = Seq(
      (1L, "A"), (2L, "B"), (3L, "C"),
      (10L, "B"), (11L, "A"), (12L, "B"),
    ).toDF("vec_id", "label")
    val out = Similarity.meanReciprocalRank(
      neighbors.repartition(2), labels, "vec_id", "label", k = 2).collect()(0)
    assert(out.getLong(0) == 3L)
    assert(math.abs(out.getDouble(1) - 0.5) < 1e-15)
  }

  test("topKOverlap: exact per-query intersection over rank <= k; zero-overlap queries kept") {
    import spark.implicits._
    val a = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L), (2L, 3, 22L),
    ).toDF("query_id", "rank", "neighbor_id")
    val b = Seq(
      (1L, 1, 11L), (1L, 2, 12L), (1L, 3, 99L),   // shares 11, 12 with a
      (2L, 1, 30L), (2L, 2, 31L), (2L, 3, 32L),   // disjoint
    ).toDF("query_id", "rank", "neighbor_id")
    val out = Similarity.topKOverlap(a, b, k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 2.0 / 3.0), (2L, 0L, 0.0)))
  }

  test("ndcgAtK: position-aware gains, ideal packing, no-hit queries contribute zero") {
    import spark.implicits._
    val neighbors = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),  // q1(A): hits at ranks 1,3
      (2L, 1, 10L), (2L, 2, 11L),                // q2(C): no C anywhere -> 0
    ).toDF("query_id", "rank", "neighbor_id")
    val labels = Seq(
      (1L, "A"), (2L, "C"),
      (10L, "A"), (11L, "B"), (12L, "A"),
    ).toDF("vec_id", "label")
    val out = Similarity.ndcgAtK(
      neighbors.repartition(2), labels, "vec_id", "label", k = 3).collect()(0)
    assert(out.getLong(0) == 2L)
    // q1: dcg = 1/log2(2) + 1/log2(4); idcg packs at ranks 1,2
    def g(p: Int) = (1.0 / (math.log(p + 1.0) / math.log(2.0))).toFloat.toDouble
    val ndcg1 = (g(1) + g(3)) / (g(1) + g(2))
    assert(math.abs(out.getDouble(1) - ndcg1 / 2.0) < 1e-9)
  }

  test("labelPropagation: seeds clamp, labels spread hop by hop, unreached stay NULL") {
    import spark.implicits._
    // chain 1 -> 2 -> 3 -> 4 (weight 1 each); node 1 seeds label 7;
    // node 5 is isolated. Seed node 2 holds label 9 against incoming 7.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val seeds = Seq((1L, 7), (2L, 9)).toDF("id", "lab")
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
      .toDF("s", "d", "w")
    def run(iters: Int) = Similarity.labelPropagation(
      nodes.repartition(2), seeds, edges, "id", "lab", "s", "d", "w", iters)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    val one = run(1)
    assert(one(1L) == Some(7) && one(2L) == Some(9))   // clamped, not overwritten
    assert(one(3L) == Some(9) && one(4L) == None && one(5L) == None)
    val two = run(2)
    assert(two(4L) == Some(9) && two(5L) == None)
  }

  test("labelPropagation: argmax weighs scores, exact ties break to the smaller label") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val seeds = Seq((1L, 5), (2L, 3)).toDF("id", "lab")
    // node 3 hears label 5 with weight 0.9 and label 3 with weight 0.4
    val heavier = Seq((1L, 3L, 0.9), (2L, 3L, 0.4)).toDF("s", "d", "w")
    val h = Similarity.labelPropagation(
      nodes, seeds, heavier, "id", "lab", "s", "d", "w", 1)
      .filter(col("id") === 3L).collect()(0)
    assert(h.getInt(1) == 5)
    // equal weights: the smaller label wins deterministically
    val tied = Seq((1L, 3L, 0.7), (2L, 3L, 0.7)).toDF("s", "d", "w")
    val t = Similarity.labelPropagation(
      nodes, seeds, tied, "id", "lab", "s", "d", "w", 1)
      .filter(col("id") === 3L).collect()(0)
    assert(t.getInt(1) == 3)
  }

  test("centroidCosine: identical vectors score 1, orthogonal pairs 1/sqrt(2), zero vectors NULL") {
    val df = Seq(
      (1L, "g", Seq(1.0f, 0.0f)),
      (2L, "g", Seq(0.0f, 1.0f)),   // centroid (0.5, 0.5)
      (3L, "h", Seq(2.0f, 0.0f)),
      (4L, "h", Seq(2.0f, 0.0f)),   // centroid = the vectors themselves
      (5L, "z", Seq(0.0f, 0.0f)),   // zero vector and zero centroid
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidCosine(df, "vec_id", "label", "embedding")
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(math.abs(out(1L).get.asInstanceOf[Double] - 1.0 / math.sqrt(2.0)) < 1e-6)
    assert(math.abs(out(2L).get.asInstanceOf[Double] - 1.0 / math.sqrt(2.0)) < 1e-6)
    assert(out(3L).contains(1.0) && out(4L).contains(1.0))
    assert(out(5L).isEmpty)
  }

  test("pcaPower: rank-1 cloud recovers its direction and variance; zero variance yields NULL") {
    // all centered vectors lie along (0.6, 0.8): the first PC is exact
    // after one iteration, eigenvalue = mean squared projection = 31.25
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(6.0f, 8.0f)),
      (3L, Seq(-3.0f, -4.0f)), (4L, Seq(0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(df, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(out(0)._1 - 0.6) < 1e-6)
    assert(math.abs(out(1)._1 - 0.8) < 1e-6)
    assert(math.abs(out(0)._2 - 31.25) < 1e-4)

    val flat = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.pcaPower(flat, "vec_id", "embedding", iters = 2)
      .collect()
    assert(z.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("kmeansLloyd: separated clouds settle on their natural clusters from min-id seeds") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)),   // seed of cluster 0
      (2L, Seq(10.0f, 10.0f)), // seed of cluster 1
      (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(9.0f, 10.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 0 && out(3L) == 0)
    assert(out(2L) == 1 && out(4L) == 1)
    val ex = intercept[IllegalArgumentException] {
      Similarity.kmeansLloyd(df, "vec_id", "embedding", k = 1, iters = 2)
    }
    assert(ex.getMessage.contains("k >= 2"))
    // duplicate seed vectors: ids 1 and 2 seed clusters 0 and 1 at the
    // same point, so every distance to them ties — the lower id wins,
    // and cluster 1, left without members, vanishes
    val dup = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(10.0f, 10.0f)),
    ).toDF("vec_id", "embedding")
    val dupOut = Similarity.kmeansLloyd(dup, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dupOut == Map(1L -> 0, 2L -> 0, 3L -> 2), s"tie must go to the lower cid: $dupOut")
    // NULL and empty vectors have no position: as seeds their clusters
    // (0 and 1) are absent, and they are assigned to no cluster
    val hollow = Seq[(Long, Seq[Float])](
      (1L, null), (2L, Seq.empty), (3L, Seq(0.0f, 0.0f)), (4L, Seq(10.0f, 10.0f)), (5L, Seq(1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val hollowOut = Similarity.kmeansLloyd(hollow, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hollowOut == Map(3L -> 2, 4L -> 3, 5L -> 2), s"hollow vectors: $hollowOut")
  }

  test("nearestCentroid attributes separable classes and reports correctness") {
    val df = Seq(
      (1L, "g", Seq(1.0f, 0.0f)), (2L, "g", Seq(1.0f, 0.1f)),
      (3L, "h", Seq(0.0f, 1.0f)), (4L, "h", Seq(0.1f, 1.0f)),
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.nearestCentroid(df, "vec_id", "label", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(out.size == 4)
    assert(out.values.forall(_._2), s"misattributed: $out")
    assert(out(1L)._1 == "g" && out(3L)._1 == "h")
  }

  test("kmeansQuality: hand-checked per-cluster counts and SSE") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(9.0f, 10.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansQuality(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // cluster 0: members (0,0),(1,0), centroid (0.5,0) -> SSE 0.5
    // cluster 1: members (10,10),(9,10), centroid (9.5,10) -> SSE 0.5
    assert(out(0)._1 == 2L && math.abs(out(0)._2 - 0.5) < 1e-6)
    assert(out(1)._1 == 2L && math.abs(out(1)._2 - 0.5) < 1e-6)
  }

  test("pcaProject: rank-1 cloud projects to its centered coordinates along the PC") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(6.0f, 8.0f)),
      (3L, Seq(-3.0f, -4.0f)), (4L, Seq(0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaProject(df, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // centered vectors dot (0.6, 0.8): 2.5, 7.5, -7.5, -2.5
    assert(math.abs(out(1L) - 2.5) < 1e-6)
    assert(math.abs(out(2L) - 7.5) < 1e-6)
    assert(math.abs(out(3L) + 7.5) < 1e-6)
    assert(math.abs(out(4L) + 2.5) < 1e-6)
  }

  test("hyperplaneMd5Pairs: identical vectors collide in every table; opposite vectors in none") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, -0.5f)),
      (2L, Seq(1.0f, 2.0f, -0.5f)),   // identical to 1: same buckets everywhere
      (3L, Seq(-1.0f, -2.0f, 0.5f)),  // opposite: every dot sign flips
      (4L, Seq(0.9f, 2.1f, -0.4f)),   // near 1: same signs on these planes
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.hyperplaneMd5Pairs(df, "vec_id", "embedding",
      bits = 8, tables = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 2L, s"identical vectors must collide in both tables: $pairs")
    assert(pairs.keys.forall { case (a, b) => a < b })
    // nonzero dots everywhere (fixed data, deterministic planes): the
    // negated vector flips every signature bit, so buckets can't match
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"opposite vectors must not collide: $pairs")
    // degenerate corpus: identical vectors all share every bucket — the
    // capBuckets contract drops the oversized groups before the join
    val degenerate = (1L to 16L).map(i => (i, Seq(1.0f, 2.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.hyperplaneMd5Pairs(degenerate, "vec_id", "embedding",
      bits = 8, tables = 2, maxBucketSize = 4).count() == 0L)
  }

  test("pcaProject/kmeansQuality shared-stage overloads are bit-identical to the composed forms") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(6.0f, 8.0f)),
      (3L, Seq(-3.0f, -4.0f)), (4L, Seq(0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    // a caller holding q224's loadings must get EXACTLY q226's result
    val loadings = Similarity.pcaPower(df, "vec_id", "embedding", iters = 3)
      .select(col("pos"), col("loading"))
      .persist()
    try {
      val viaLoadings = Similarity.pcaProject(df, "vec_id", "embedding", loadings)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val composed = Similarity.pcaProject(df, "vec_id", "embedding", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaLoadings == composed) // exact doubles, not tolerance
    } finally loadings.unpersist()
    // and a caller holding q228's assignments must get EXACTLY q229's
    val km = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(9.0f, 10.0f)),
    ).toDF("vec_id", "embedding")
    val assigned = Similarity.kmeansLloyd(km, "vec_id", "embedding", k = 2, iters = 2)
      .persist()
    try {
      val viaAssigned = Similarity.kmeansQuality(km, "vec_id", "embedding", assigned)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val composed = Similarity.kmeansQuality(km, "vec_id", "embedding", k = 2, iters = 2)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(viaAssigned == composed)
    } finally assigned.unpersist()
  }

  test("quantizeInt8: hand-checked scale, codes, and max reconstruction error; zero vectors stay NULL-scale") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), r.getDouble(2), r.getSeq[Int](3)))).toMap
    val (sc, err, q) = out(1L)
    assert(sc.contains(127.0 / 2.0))
    // 1*63.5+0.5 floors to 64; -2*63.5+0.5 floors to -127; 0.5*63.5+0.5 to 32
    assert(q == Seq(64, -127, 32))
    // worst element: |1 - 64/63.5|
    assert(err == math.abs(1.0 - 64.0 / 63.5))
    val (sc0, err0, q0) = out(2L)
    assert(sc0.isEmpty && err0 == 0.0 && q0 == Seq(0, 0))
  }
}
