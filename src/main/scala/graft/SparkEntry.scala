package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.functions.TextFns
import graft.operators.{Cleaning, Curation, Dedup, Events, Features, Multimodal, Relational, Similarity, StarSchema, Transforms}
import graft.sources.{Sources, Tables}

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for every
 * SQL-expressible one. See SURVEY.md §7 for the build plan.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String): Tables = Tables(s, dir)

  /** Flagship: star join + aggregate (SURVEY §2.1 #22) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q22StarJoinAgg(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- §2.1

  /** #1 group-by aggregate (profiling / value_counts; notebook cell 5). */
  private def q01GroupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        decAvg(col("l_discount")).as("avg_disc"),
        cnt.as("n"))

  /** #2 right-merge + keep-first dedup (reference dag.py:48-49). */
  private def q02MergeRightDedup(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val partSide = tt.part.select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Relational.mergeRightDedup(
      partSide, Seq("p_brand"), tt.lineitem, "l_partkey",
      firstBy = Seq(col("l_orderkey"), col("l_linenumber")), broadcastLeft = true)
      .select("l_orderkey", "l_partkey", "p_brand", "l_quantity")
  }

  /** #3 projection + predicate with parquet pushdown (dag.py:52,198). */
  private def q03ProjectFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** #4 median imputation of invalid values (dag.py:79-81,122-127). */
  private def q04ImputeMedian(s: SparkSession, dir: String): DataFrame =
    Cleaning.imputeWithMedian(t(s, dir).customer, "c_acctbal", col("c_acctbal") >= 0)
      .select(col("c_custkey"), col("c_acctbal").as("acctbal_imputed"))

  /** #5 sentinel fill for missing/zero values (dag.py:84-90). */
  private def q05FillSentinel(s: SparkSession, dir: String): DataFrame =
    Cleaning.fillSentinel(t(s, dir).lineitem, "l_discount", -1.0,
        valid = Some(col("l_discount") =!= 0.0))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_discount").as("discount_s"))

  /** #6 categorical whitelist validation (dag.py:92-103). */
  private def q06DomainValidation(s: SparkSession, dir: String): DataFrame =
    Cleaning.domainValidate(t(s, dir).orders, "o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM"), "OTHER")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(cnt.as("n"))

  /** #7 cross-column invariant filter (dag.py:116-119). */
  private def q07InvariantFilter(s: SparkSession, dir: String): DataFrame =
    Cleaning.invariantFilter(t(s, dir).lineitem, col("l_discount") <= col("l_tax"))
      .groupBy("l_returnflag")
      .agg(cnt.as("n"))

  /** #8 date-part derivation (dag.py:156-162). */
  private def q08DateParts(s: SparkSession, dir: String): DataFrame =
    Transforms.dateParts(t(s, dir).orders, "o_orderdate")
      .groupBy("ano", "trimestre", "mes")
      .agg(
        cnt.as("n"),
        decSum(col("o_totalprice")).as("sum_price"),
        sum(when(col("dia_util"), 1L).otherwise(0L)).as("workdays"))

  /** #9 hour-of-day phase bucketing (dag.py:106-113). */
  private def q09PhaseBucketing(s: SparkSession, dir: String): DataFrame =
    t(s, dir).events
      .select(Transforms.phaseOfDay(hour(col("ts"))).as("fase_dia"))
      .groupBy("fase_dia")
      .agg(cnt.as("n"))

  /** The reference's `holidays.Brazil()` (dag.py:161), rule-generated
   *  over the orders date span: fixed national dates + computus-derived
   *  movable feasts. */
  private val holidayDates: Seq[String] =
    Transforms.brazilHolidays(1992, 1998).map(_.toString)

  /** #10 calendar-lookup flag via broadcast join (dag.py:161). */
  private def q10HolidayFlag(s: SparkSession, dir: String): DataFrame = {
    val cal = Transforms.brazilHolidayDim(s, 1992, 1998)
    Transforms.flagFromCalendar(t(s, dir).orders, "o_orderdate", cal, "d", "feriado")
      .groupBy(col("feriado"), year(col("o_orderdate")).as("ano"))
      .agg(cnt.as("n"))
  }

  /** #11 dictionary value remap (dag.py:165). */
  private def q11ValueMap(s: SparkSession, dir: String): DataFrame =
    t(s, dir).orders
      .select(Transforms.valueMap(col("o_orderstatus"),
        Map("O" -> "Open", "F" -> "Finished", "P" -> "Pending"),
        Some(lit("Unknown"))).as("status"))
      .groupBy("status")
      .agg(cnt.as("n"))

  /** #12 multi-valued string → boolean flag columns (dag.py:167-181). */
  private def q12MultiflagSplit(s: SparkSession, dir: String): DataFrame = {
    val flags = Seq("rod", "ring", "widget", "blue")
    val flagged = Transforms.multiFlagSplit(t(s, dir).part, "p_name", flags)
    val aggs = flags.map(f => sum(col(f).cast("long")).as(s"n_$f"))
    flagged.agg(aggs.head, aggs.tail: _*)
  }

  /** #13 split/concat/substring string derivations (dag.py:184-191). */
  private def q13StringOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir).part.select(
      col("p_partkey"),
      Transforms.splitHead(col("p_name"), " ").as("name_head"),
      Transforms.afterFirst(col("p_name"), " ").as("name_tail"),
      Transforms.concatColumns("#", col("p_brand"), col("p_type")).as("brand_type"))

  /** #14 union of homogeneous slices (dag.py:208). */
  private def q14UnionSlices(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir).orders
    val slices = Seq(1995, 1996).map(y => o.filter(year(col("o_orderdate")) === y))
    Relational.unionSlices(slices)
      .groupBy(year(col("o_orderdate")).as("ano"))
      .agg(cnt.as("n"), decSum(col("o_totalprice")).as("sum_price"))
  }

  /** #15 dimension build: distinct + hash surrogate key (dag.py:220-237). */
  private def q15DimBuild(s: SparkSession, dir: String): DataFrame =
    StarSchema.dimWithHashKey(t(s, dir).orders,
      Seq("o_orderpriority", "o_orderstatus"), "id_dim")

  /** #16 fact build: source ⋈ broadcast dims → surrogate FKs (dag.py:241-259). */
  private def q16FactBuild(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val src = tt.orders.join(tt.customer.select("c_custkey", "c_mktsegment"),
      col("o_custkey") === col("c_custkey"))
    val dimP = StarSchema.dimWithHashKey(tt.orders, Seq("o_orderpriority"), "id_priority")
    val dimS = StarSchema.dimWithHashKey(tt.customer, Seq("c_mktsegment"), "id_segment")
    StarSchema.buildFact(src,
        Seq((dimP, Seq("o_orderpriority"), "id_priority"),
            (dimS, Seq("c_mktsegment"), "id_segment")),
        measures = Seq("o_totalprice"))
      .groupBy("id_priority", "id_segment")
      .agg(cnt.as("n"), decSum(col("o_totalprice")).as("sum_price"))
  }

  /** #17 subset-dedup of the fact on its FK tuple (dag.py:263). */
  private def q17FactDedup(s: SparkSession, dir: String): DataFrame =
    Relational.keepFirst(t(s, dir).orders,
        keys = Seq(col("o_orderpriority"), col("o_orderstatus")),
        order = Seq(col("o_orderkey")))
      .select("o_orderpriority", "o_orderstatus", "o_orderkey")

  /** #18 deterministic top-k (notebook top-N counts). */
  private def q18TopK(s: SparkSession, dir: String): DataFrame =
    Relational.topK(t(s, dir).orders, 10, col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice")

  /** #19 window functions: rank / lag / running aggregate. */
  private def q19WindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir).events
      .filter(col("user_id") < 20)
      .select(
        col("user_id"), col("event_id"),
        row_number().over(w).as("seq"),
        lag("value", 1).over(w).as("prev_value"),
        sum(col("value").cast("decimal(18,4)")).over(w).cast("double").as("running_value"))
  }

  /** #20 wide pivot via conditional aggregation (1 shuffle). */
  private def q20Pivot(s: SparkSession, dir: String): DataFrame =
    Relational.pivotConditional(
      t(s, dir).events.withColumn("day", to_date(col("ts"))),
      groupCols = Seq("day"), pivotCol = "event_type",
      values = Seq("click", "view", "purchase", "signup", "error"),
      measure = lit(1L))

  /** #21 anti join: existence audit (dag.py FK integrity) — customers
   *  with NO order in the latest period, per segment. The generated
   *  data leaves no true FK orphans (spark_rows was 0, so an anti-join
   *  bug returning empty would have passed); the recent-window variant
   *  keeps the operator shape and makes the oracle comparison
   *  discriminate (round-10 verdict item 6). */
  private def q21AntiSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val recent = tt.orders.filter(
      col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    Relational.antiJoin(tt.customer, recent, col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(cnt.as("n"))
  }

  /** #22 flagship star join + aggregate (dag.py:241-259 + notebook). */
  private def q22StarJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val revenue = col("l_extendedprice").cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
    tt.lineitem
      .join(tt.orders.filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(tt.customer.select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir).nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir).region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(revenue).cast("double").as("revenue"), cnt.as("n"))
  }

  /** #23 event-time bucket aggregate (batch twin of the streaming path). */
  private def q23TimeBucketAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir).events
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(cnt.as("n"), decSum(col("value")).as("sum_value"))

  /** #24 semi-structured JSON field extraction. */
  private def q24JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir).events
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k")
      .agg(cnt.as("n"))

  // ---------------------------------------------------------------- §2.2

  /** #25 exact dedup: identical texts collapse to min-id keeper groups. */
  private def q25DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir).documents, "text", "doc_id")
      .select(col("text"), col("keeper"), col("n"))

  private val enStop = Seq("the", "a", "of", "and", "is")

  /** #26 text statistics: token count, stopword hits, quality score. */
  private def q26TextStats(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      TextFns.stopwordHits(toks, enStop).as("n_stop"),
      TextFns.qualityScore(
        TextFns.tokenCount(col("text")),
        TextFns.stopwordHits(toks, enStop),
        col("n_chars")).as("quality"))
  }

  /** #27 n-gram/stopword language-ID heuristic. */
  private def q27LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents
      .select(TextFns.langId(TextFns.tokens(col("text"))).as("lang_guess"))
      .groupBy("lang_guess")
      .agg(cnt.as("n"))

  /** #28 document fingerprint: md5 of normalized text. */
  private def q28Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))

  /** #29 MinHash+LSH near-dup pairs, exact-Jaccard verified at 0.8.
   *  cacheSets: the shingle sets feed three plan branches (signature +
   *  both verify joins); caching computes the shingling once. */
  private def q29MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(
      t(s, dir).documents, "doc_id",
      TextFns.wordShingles(s, col("text"), 3),
      threshold = 0.8, cacheSets = true)

  /** #30 SimHash near-dup pairs (64-bit, Hamming ≤ 3, chunk-blocked). */
  private def q30Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(t(s, dir).documents, "doc_id",
      TextFns.tokens(col("text")), maxHamming = 3)

  /** #31 char-3-gram Jaccard over deterministic adjacent-id pairs
   *  (SQL-checkable). Only (id, text) crosses the join shuffle; the gram
   *  sets live inside the one-pass codegen expression. */
  private def q31NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val a = d.select(col("doc_id").as("id_a"), col("text").as("__ta"))
    val b = d.select(col("doc_id").as("id_b"), col("text").as("__tb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        TextFns.charGramJaccard(s, col("__ta"), col("__tb"), 3).as("jaccard"))
  }

  /** #32 exact cosine top-k neighbors via the codegen expression. */
  private def q32AnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    Similarity.bruteForceTopK(s, e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
  }

  /** #33 multi-table LSH approximate top-k (OR-amplified; bits sized to corpus). */
  private def q33AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    Similarity.lshTopK(s, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
      k = 5, bits = 4, tables = 16, maxBucketSize = 2000)
  }

  /** #34 embedding-cosine near-dup pairs within multi-table LSH buckets.
   *  bits=0 → occupancy-targeted auto width (6 at sf0.1, the prior
   *  pinned value; +~3 bits per 10× corpus, keeping bucket join work
   *  linear in n — the measured fixed-bits cliff was 75 s vs 12 s at
   *  one 10× step). */
  private def q34EmbeddingDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(s, t(s, dir).embeddings, "vec_id", "embedding",
      threshold = 0.3, bits = 0, tables = 8, maxBucketSize = 2000)

  /** #35 multimodal: binary payload plumbing + per-partition decode stage. */
  private def q35MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.attachPayload(t(s, dir).documents, "text", "doc_id")
    Multimodal.decodeFeatures(s, payloads, "payload", "doc_id").toDF()
  }

  // ------------------------------------------- §2.4 analytics extensions

  /** #36 hierarchical subtotals in one shuffle (ROLLUP grouping sets). */
  private def q36RollupAgg(s: SparkSession, dir: String): DataFrame =
    Relational.rollupAgg(t(s, dir).orders,
      Seq("o_orderpriority", "o_orderstatus"),
      Seq(cnt.as("n"), decSum(col("o_totalprice")).as("sum_price")))

  /** #37 gap-based batch sessionization (1-hour gap). */
  private def q37SessionizeBatch(s: SparkSession, dir: String): DataFrame =
    Events.sessionSummaries(t(s, dir).events, "user_id", "ts", gapUs = 3600L * 1000000L,
      tieBreak = Seq("event_id"))

  /** #38 as-of join: latest click at-or-before each purchase, per user. */
  private def q38AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).events
    Events.asofJoin(
        e.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts"),
        e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("ts" -> "last_click_ts"), rightTieBreak = Seq("event_id"))
      .select("user_id", "event_id", "ts", "last_click_ts")
  }

  /** #39 distinct cardinality (exact; the library's scale path is HLL++). */
  private def q39DistinctCount(s: SparkSession, dir: String): DataFrame =
    Relational.distinctCount(t(s, dir).lineitem, "l_partkey")

  /** #40 grouped exact quantiles (the approx Greenwald-Khanna sketch is the library's scale path). */
  private def q40Quantiles(s: SparkSession, dir: String): DataFrame =
    Relational.quantileAgg(t(s, dir).lineitem, Seq("l_returnflag"), "l_extendedprice",
      Seq("p50" -> 0.5, "p90" -> 0.9))

  /** #47 cube with grouping indicators (null-safe subtotal disambiguation). */
  private def q47CubeAgg(s: SparkSession, dir: String): DataFrame =
    Relational.cubeAgg(t(s, dir).orders,
      Seq("o_orderpriority", "o_orderstatus"),
      Seq(cnt.as("n"), decSum(col("o_totalprice")).as("sum_price")))

  /** #46 idempotent load: drop incoming rows whose keys already landed (dag.py:290-445). */
  private def q46IdempotentLoad(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir).orders
    val existing = o.filter(col("o_orderkey") % 3 === 0)
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
    Relational.idempotentAppend(incoming, existing, Seq("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(cnt.as("n"), decSum(col("o_totalprice")).as("sum_price"))
  }

  /** #45 deterministic stratified sample: hash-ordered top-n per stratum. */
  private def q45StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Relational.stratifiedSample(t(s, dir).documents, Seq("lang"), col("text"), n = 10,
        tieBreak = Seq(col("doc_id")))  // duplicate texts exist; doc_id totalizes the order
      .select("lang", "doc_id", "n_chars")

  /** #44 null/missing-value profile in one aggregation (notebook isnull().sum()). */
  private def q44NullProfile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir).lineitem
      .withColumn("discount_n", nullif(col("l_discount"), lit(0.0)))
      .withColumn("tax_n", nullif(col("l_tax"), lit(0.0)))
    Cleaning.profileNulls(li, Seq("l_quantity", "discount_n", "tax_n"))
  }

  /** #43 IVF approximate top-k: coarse k-means cells, nprobe probing. */
  private def q43AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    Similarity.ivfTopK(s, e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4)
  }

  /** #41 exact distributed statistics: correlation + stddev per group. */
  private def q41CorrStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        decCorr(col("l_discount"), col("l_tax")).as("corr_disc_tax"),
        decStddevPop(col("l_discount")).as("std_disc"),
        cnt.as("n"))

  /** #42 regex group extraction (brand number from 'Brand#N'). */
  private def q42RegexExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir).part
      .select(Transforms.regexExtract(col("p_brand"), "#([0-9]+)", 1)
        .cast("int").as("brand_num"))
      .groupBy("brand_num")
      .agg(cnt.as("n"))

  /**
   * #48 grouped quantiles via the Greenwald-Khanna sketch — the 100 TB default
   * (q40's exact percentile gathers every group value; this one keeps
   * fixed-size mergeable state). Rows-only: sketch estimates are
   * engine-specific; EventsSpec pins it within 5% of exact.
   */
  private def q48QuantilesApprox(s: SparkSession, dir: String): DataFrame =
    Relational.quantileAgg(t(s, dir).lineitem, Seq("l_returnflag"), "l_extendedprice",
      Seq("p50" -> 0.5, "p90" -> 0.9), approx = true)

  /**
   * #49 distinct cardinality via HLL++ — the 100 TB default (fixed-size
   * sketch vs shuffling every distinct value). Rows-only: estimates are
   * engine-specific; EventsSpec pins the relative error under 3x the
   * configured rsd (rsd is a standard deviation, not a bound).
   */
  private def q49DistinctHll(s: SparkSession, dir: String): DataFrame =
    Relational.distinctCount(t(s, dir).lineitem, "l_partkey", approx = true, rsd = 0.05)

  /** #50 brand/model split with the reference's `I/`-prefix special case
   *  (dag.py:187-196), driven over synthesized `marca` strings on part. */
  private def q50BrandModelSplit(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).part.select(col("p_partkey"),
      when(col("p_partkey") % 3 === 0, concat(lit("I/"), upper(col("p_name"))))
        .when(col("p_partkey") % 3 === 1, concat(lit("IVECO/"), upper(col("p_name"))))
        .otherwise(upper(col("p_name"))).as("marca"))
    Transforms.brandModelSplit(src, "marca", brandOut = "brand", modelOut = "modelo")
      .select("p_partkey", "brand", "modelo")
  }

  /** #51 dimension with dense index+1 surrogate parity (dag.py:220-237). */
  private def q51DimDenseKey(s: SparkSession, dir: String): DataFrame =
    StarSchema.dimWithDenseKey(t(s, dir).part, Seq("p_brand", "p_type"), "dim_sk")

  /** #52 token counting: whitespace + BPE-ish regex pre-tokenizer. */
  private def q52TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("ws_tokens"),
      TextFns.bpeTokenCount(col("text")).as("bpe_tokens"))

  /** #53 dense surrogate key without a single-partition window — the
   *  100 TB twin of q51, proven on a 6-figure-row key set. */
  private def q53DimDenseScalable(s: SparkSession, dir: String): DataFrame =
    StarSchema.dimWithDenseKeyScalable(t(s, dir).lineitem,
      Seq("l_orderkey", "l_linenumber"), "dim_sk")

  /** #54 winnowing (rolling-hash) fingerprint partial-overlap candidates.
   *  Rows-only: the MOSS selection isn't SQL-expressible; DedupSpec pins
   *  the substring-sharing guarantee and edit robustness. */
  private def q54WinnowOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowCandidates(t(s, dir).documents, "doc_id", col("text"),
      k = 24, w = 4, minShared = 3, maxDocFreq = 100)

  /** #55 composed curation pipeline: lang filter → quality filter →
   *  exact dedup — one plan, one scan, one shuffle. */
  private def q55CurationPipeline(s: SparkSession, dir: String): DataFrame =
    Curation.curate(t(s, dir).documents, "doc_id", "text", "n_chars",
      stopwords = enStop, langs = Seq("en"), minQuality = 0.35)

  /** #57 persisted IVF index round trip: build (cells partitioned by
   *  cluster_id) then search with FULL probing — which must equal brute
   *  force exactly, so the q32 oracle applies verbatim. */
  private def q57AnnIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    val idx = s"target/graft_ivf_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.buildIvfIndex(s, e, "vec_id", "embedding", idx, nlist = 8)
    Similarity.ivfTopKFromIndex(s, idx, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, nprobe = 8)
  }

  /** #58 SCD type-2 dimension merge: half the customers re-arrive, a
   *  quarter with a changed segment — changed keys close + re-version. */
  private def q58Scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir).customer
    val existing = c.select(col("c_custkey"), col("c_mktsegment"),
      lit("1990-01-01 00:00:00").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"),
      lit(true).as("is_current"))
    val incoming = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 4 === 0, lit("SEG-NEW"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    StarSchema.scd2Merge(existing, incoming,
      Seq("c_custkey"), Seq("c_mktsegment"),
      effTs = lit("1995-06-01 00:00:00").cast("timestamp"))
  }

  /** #56 interval (range) join with no equi-key, bin-bucketed — never a
   *  nested-loop cartesian. Orders counted into 7-day windows opened by
   *  a deterministic order sample. */
  private def q56RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir).orders
    val intervals = o.filter(col("o_orderkey") % 601 === 0)
      .select(col("o_orderkey").as("i_key"),
        col("o_orderdate").as("start_ts"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("end_ts"))
    Events.rangeJoin(o.select("o_orderkey", "o_orderdate"), "o_orderdate",
        intervals, "start_ts", "end_ts", binWidthSec = 7L * 86400)
      .groupBy("i_key")
      .agg(cnt.as("n"))
  }

  /** #59 near-dup cluster resolution: MinHash candidate pairs →
   *  connected components → min-id keeper election. Generalizes the
   *  reference's drop_duplicates (dag.py:49) to transitive near-dups
   *  (A~B, B~C ⇒ one keeper for all three). Rows-only: the pair
   *  generation isn't SQL-expressible; DedupSpec pins cluster ==
   *  transitive closure, and q62 oracle-checks the component operator
   *  itself on a SQL-expressible graph. */
  private def q59DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(
      t(s, dir).documents, "doc_id",
      TextFns.wordShingles(s, col("text"), 3),
      threshold = 0.8, cacheSets = true)
    Dedup.dedupClusters(pairs)
  }

  /** #60 benchmark decontamination: every-97th document stands in as the
   *  benchmark set; corpus docs sharing >= 2 winnow fingerprints with it
   *  are flagged (which includes each benchmark doc itself — verbatim
   *  leakage — plus near-verbatim overlaps). Rows-only: the MOSS
   *  selection isn't SQL-expressible; CurationSpec pins embedded-excerpt
   *  detection and the clean-doc no-op. */
  private def q60Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documents
    Curation.contaminationFlags(
      docs, "doc_id", col("text"),
      docs.filter(col("doc_id") % 97 === 0), col("text"),
      k = 24, w = 4, minShared = 2)
  }

  /** #61 Gopher/C4 repetition quality signals (Rae et al. 2021 §A1.1):
   *  duplicate-line fraction, top-2-gram fraction, symbol-to-word
   *  ratio, mean word length — all per-row native expressions, fully
   *  DuckDB-expressible, feeding [[Curation.curate]]'s optional gates. */
  private def q61QualityRules(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.duplicateLineFraction(col("text")).as("dup_line_frac"),
      TextFns.topNGramFraction(s, col("text"), 2).as("top2gram_frac"),
      TextFns.symbolToWordRatio(col("text")).as("symbol_word_ratio"),
      TextFns.meanWordLength(toks).as("mean_word_len"))
  }

  /** #62 connected components oracle twin: a deterministic
   *  SQL-expressible edge set (4-chains over doc ids + every-20th cross
   *  link that merges two chains), so DuckDB's recursive-CTE transitive
   *  closure fully oracle-checks labels — rows, schema, and hash. */
  private def q62CcLabels(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"))
    val chain = d.filter(col("doc_id") % 4 =!= 3)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    val cross = d.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 10).as("id_b"))
    Dedup.connectedComponents(chain.union(cross))
  }

  /** #63 two-phase salted aggregation, driver-exercised: hot grouping
   *  keys (3 return flags over the whole table) spread across 16 salt
   *  buckets before the final combine. Results are exact, so the plain
   *  GROUP BY is the oracle. */
  private def q63SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Relational.saltedAgg(t(s, dir).lineitem, Seq("l_returnflag"), saltBuckets = 16,
      Seq(
        ("sum_qty", sum(col("l_quantity").cast("decimal(18,4)")),
          (c: Column) => sum(c).cast("double")),
        ("n", cnt, (c: Column) => sum(c))))

  /** #64 skew-salted equi-join, driver-exercised: lineitem→part with the
   *  big side salted and the small side replicated per bucket. Row-set
   *  identical to the plain join, so the plain join is the oracle. */
  private def q64SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val small = tt.part.select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Relational.saltedJoin(tt.lineitem.select("l_partkey", "l_quantity"), small,
        Seq("l_partkey"), saltBuckets = 8)
      .groupBy("p_brand")
      .agg(decSum(col("l_quantity")).as("sum_qty"), cnt.as("n"))
  }

  /** #65 bucketed-table co-located join, driver-exercised: both sides
   *  written bucketed on the join key (ScaleSpec asserts the zero-shuffle
   *  plan), then joined + aggregated; the plain join is the oracle. */
  private def q65BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val hex = java.lang.Integer.toHexString(dir.hashCode)
    val (ot, lt) = (s"graft_b_orders_$hex", s"graft_b_lineitem_$hex")
    Sources.writeBucketed(tt.orders.select("o_orderkey", "o_custkey"),
      ot, Seq("o_orderkey"), numBuckets = 8)
    Sources.writeBucketed(tt.lineitem.select("l_orderkey", "l_quantity"),
      lt, Seq("l_orderkey"), numBuckets = 8)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(decSum(col("l_quantity")).as("sum_qty"), cnt.as("n"))
  }

  /** #66 validated timestamp parse (dag.py:64-75 raises on failure;
   *  to_timestamp nulls silently): every 97th order's date string is
   *  corrupted; the flag column splits the parse outcomes per year. */
  private def q66ParseValidated(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).orders.select(col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit("not-a-date"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("raw"))
    Cleaning.parseTimestamp(src, "raw", "yyyy-MM-dd", "parsed", "parse_ok")
      .groupBy(col("parse_ok"), year(col("parsed")).as("ano"))
      .agg(cnt.as("n"))
  }

  /** #67 pt-BR decimal-comma normalization (dag.py:184): comma-decimal
   *  strings synthesized from customer balances round-trip to DOUBLE. */
  private def q67LocaleNormalize(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).customer.select(col("c_custkey"),
      translate(col("c_acctbal").cast("string"), ".", ",").as("bal_br"))
    src.select(col("c_custkey"),
      Transforms.normalizeDecimalComma(col("bal_br")).as("bal"))
  }

  /** #68 PII redaction: emails/IPs/phones (synthesized onto every 5th and
   *  7th document) replaced before training — three portable
   *  regexp_replace passes, byte-identical in the DuckDB oracle. */
  private def q68PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).documents.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact bob@example.com or 10.0.255.7 today")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" call (555) 867-5309 now")))
        .otherwise(col("text")).as("text"))
    src.select(col("doc_id"), TextFns.redactPii(col("text")).as("clean"))
  }

  /** #69 C4 line-level filtering (Raffel et al. 2020 §2.2): boilerplate
   *  and unterminated lines drop, prose lines survive — driven over
   *  synthesized multi-line documents (the corpus is single-line). */
  private def q69C4LineFilter(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).documents.select(col("doc_id"),
      concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(" end.")),
        lit("enable javascript to continue"),
        lit("lorem ipsum dolor sit amet"),
        lit("{ code }"),
        concat(lit("the tail says "), substring(col("text"), 41, 30), lit("!"))).as("text"))
    val kept = TextFns.c4KeptLines(col("text"))
    src.select(col("doc_id"),
      array_join(kept, "\n").as("clean"),
      size(kept).as("n_lines"))
  }

  /** #70 TF-IDF top-3 terms per document: the canonical two-level
   *  shuffle-staged aggregation (term explode → tf → df window → rank).
   *  Output keeps the integer columns; the double score only orders. */
  private def q70TfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    Curation.tfidfTopTerms(t(s, dir).documents, "doc_id", col("text"), k = 3)

  /** #71 C4 global line dedup: a corpus-wide boilerplate line (planted
   *  into every document) survives only in the lowest-id document;
   *  duplicate body texts collapse to their first occurrence; unique
   *  tails all survive. */
  private def q71GlobalLineDedup(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir).documents.select(col("doc_id"),
      concat_ws("\n",
        lit("every doc shares this boilerplate line"),
        col("text"),
        concat(lit("unique tail for doc "), col("doc_id"))).as("text"))
    Dedup.globalLineDedup(src, "doc_id", col("text"))
  }

  /** #72 mean embedding (average pooling) per label: exact decimal
   *  component sums make the result independent of partial-merge order,
   *  so the DuckDB oracle hash-matches. Long-form (label, pos, mean). */
  private def q72MeanEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.meanEmbedding(t(s, dir).embeddings, "label", "embedding")

  /** #73 semantic dedup capstone: embedding near-dup candidate pairs →
   *  connected components → keeper election — the full "drop semantic
   *  duplicates from a corpus" pipeline composed from q34 + q59
   *  machinery. Rows-only (LSH pairs aren't SQL-expressible). */
  private def q73SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.embeddingNearDups(s, t(s, dir).embeddings,
      "vec_id", "embedding", threshold = 0.3, bits = 0, tables = 8,
      maxBucketSize = 2000) // bits=0 = auto occupancy (q34's rationale)
    Dedup.dedupClusters(pairs)
  }

  /** #74 winsorization: per-flag clipping of extended price to the
   *  [p05, p95] band; interpolated bounds have <= 4 decimal digits
   *  (2-dp data, 2-dp percentile fractions), so the decimal sums stay
   *  exact and the DuckDB quantile_cont oracle hash-matches. */
  private def q74Winsorize(s: SparkSession, dir: String): DataFrame = {
    val w = Cleaning.winsorize(t(s, dir).lineitem.select("l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"), pLo = 0.05, pHi = 0.95)
    w.groupBy("l_returnflag")
      .agg(decSum(col("l_extendedprice")).as("sum_w"), cnt.as("n"))
  }

  /** #75 z-score standardization: per-flag (price - mean) / stddev with
   *  exact-decimal moments, so the scaling constants — and therefore
   *  every scaled value — are bit-identical across engines. */
  private def q75Zscore(s: SparkSession, dir: String): DataFrame =
    Features.zscore(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))
      .withColumnRenamed("l_extendedprice", "z")

  /** #76 min-max scaling of quantity to [0,1] per return flag; min/max
   *  need no exactness machinery (no summation), and the two IEEE ops
   *  are engine-identical. */
  private def q76MinmaxScale(s: SparkSession, dir: String): DataFrame =
    Features.minmaxScale(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      "l_quantity", Seq("l_returnflag"))
      .withColumnRenamed("l_quantity", "x")

  private val q78Weights = Map(
    "src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25)
  private val q78Default = 0.1

  /** #77 sequence packing: documents concatenated in id order and cut
   *  every 512 tokens — the (doc, seq) span map a trainer consumes.
   *  Prefix sum over the total order without a single-partition window. */
  private def q77SequencePack(s: SparkSession, dir: String): DataFrame =
    Features.packSequences(
      t(s, dir).documents, "doc_id", TextFns.tokenCount(col("text")), 512L)

  /** #78 deterministic weighted mixture sampling by id hash: no RNG, so
   *  the sample is reproducible on any engine with the same md5 and
   *  stable under corpus growth. */
  private def q78MixtureSample(s: SparkSession, dir: String): DataFrame =
    Features.mixtureSample(
      t(s, dir).documents, "source", "doc_id", q78Weights, q78Default)
      .select("doc_id", "source")

  /** #79 equal-frequency quantile binning: decile of extended price
   *  within each return flag — ANSI NTILE over a total ordering, so any
   *  conforming engine reproduces the buckets exactly. */
  private def q79QuantileBins(s: SparkSession, dir: String): DataFrame =
    Relational.quantileBins(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"), 10,
      tieBreak = Seq("l_orderkey", "l_linenumber"))
      .drop("l_extendedprice")

  /** #80 rolling mean: 7-order moving average of order value per
   *  customer — framed sum through the exact-decimal detour because
   *  engines disagree on framed-double-sum order (segment tree vs
   *  running accumulator). */
  private def q80MovingAvg(s: SparkSession, dir: String): DataFrame =
    Relational.movingAvg(
      t(s, dir).orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
      "o_totalprice", Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")),
      window = 7, out = "mavg7")
      .select("o_orderkey", "o_custkey", "mavg7")

  /** #81 equi-width histogram of extended price: fixed IEEE bucket
   *  arithmetic, so bucket ids are engine-portable. */
  private def q81Histogram(s: SparkSession, dir: String): DataFrame =
    Relational.histogram(t(s, dir).lineitem.select("l_extendedprice"), "l_extendedprice", 20)

  /** #82 daily gap-fill + forward-fill per user: densify each user's
   *  event series to a full calendar, zero-fill counts, carry the last
   *  daily sum across gaps (distributed resample/ffill). */
  private def q82GapFill(s: SparkSession, dir: String): DataFrame =
    Events.gapFillDaily(
      t(s, dir).events, Seq("user_id"), "ts",
      aggs = Seq(cnt.as("n_events"), decSum(col("value")).as("day_sum")),
      zeroCol = "n_events", ffillCol = "day_sum")
      .select("user_id", "day", "n_events", "day_sum")

  /** #83 CDC changelog apply: orders replayed as a changelog over the
   *  customer snapshot — last writer wins per key, deletes drop, the
   *  rest upsert (set-based MERGE). */
  private def q83CdcApply(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val base = tt.customer.select("c_custkey", "c_acctbal")
    val changes = tt.orders.select(
      col("o_custkey").as("c_custkey"),
      col("o_totalprice").as("c_acctbal"),
      when(col("o_custkey") % 10 === 0, "D").otherwise("U").as("op"),
      col("o_orderdate"), col("o_orderkey"))
    StarSchema.cdcApply(base, changes, Seq("c_custkey"),
      orderBy = Seq(col("o_orderdate"), col("o_orderkey")), opCol = "op")
  }

  /** #84 blocked fuzzy matching: "name brand type" entity strings
   *  within 4 edits, compared only inside same-(name, brand) blocks —
   *  record linkage without an all-pairs join, mirroring the
   *  reference's brand/model split where the brand is exact and the
   *  model fuzzy (dag.py:184-196). The compound key is the cost
   *  control: p_name alone has only ~64 distinct values, so blocks
   *  grow linearly with the corpus (3.1 M candidate pairs at sf0.1);
   *  adding p_brand multiplies block count by ~25 and divides pair
   *  count by the same factor, while the type suffix still carries
   *  the edit variation the threshold tests. Oversized blocks are
   *  sub-blocked (never dropped) inside the operator, so the oracle
   *  states pure semantics with no size cap. */
  private def fuzzyPartPairs(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir).part.select(
      col("p_partkey"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("entity"),
      concat_ws("\u0001", col("p_name"), col("p_brand")).as("blk"))
    Dedup.editDistancePairs(p, "p_partkey", "entity",
      blockKey = col("blk"), maxDist = 4, maxBlockSize = 1000)
  }

  private def q84FuzzyMatch(s: SparkSession, dir: String): DataFrame =
    fuzzyPartPairs(s, dir)

  /** #85 mergeable HLL sketch rollup: per-(type, day) sketch partials
   *  persisted once, rolled up to per-type distinct-user estimates by
   *  merging SKETCHES, not rescanning rows — the 100 TB pre-aggregation
   *  pattern. Rows-only (DuckDB's approx_count_distinct is a different
   *  sketch); the spec pins merge-of-parts == sketch-of-whole. */
  private def q85HllRollup(s: SparkSession, dir: String): DataFrame = {
    val partials = Relational.hllPartials(
      t(s, dir).events.withColumn("day", to_date(col("ts"))),
      Seq("event_type", "day"), "user_id")
    Relational.hllRollup(partials, Seq("event_type"))
  }

  /** #86 k-anonymity: suppress quasi-identifiers whose combination
   *  appears fewer than k times — the privacy gate before releasing
   *  user-adjacent tabular data. QI = (nation, market segment). */
  private def q86KAnonymity(s: SparkSession, dir: String): DataFrame =
    Cleaning.kAnonymize(
      t(s, dir).customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
      quasiIds = Seq("c_nationkey", "c_mktsegment"), k = 20L)

  /** #87 canonical text normalization: lowercase, collapse whitespace,
   *  trim — the step before any fingerprint/dedup pass. */
  private def q87TextNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(
      col("doc_id"), TextFns.normalizeText(col("text")).as("norm"))

  /** #88 incremental aggregate maintenance: history's stored aggregate
   *  merges with the delta batch's — algebraic counts/decimal sums, so
   *  the merge equals a full recompute (the oracle) without rescanning
   *  history. */
  private def q88IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir).lineitem
    def part(f: Column => Column) = li
      .filter(f(col("l_shipdate")))
      .groupBy("l_returnflag")
      .agg(cnt.as("n"), sum(col("l_quantity").cast("decimal(18,4)")).as("s"))
    val cut = lit("1997-01-01").cast("timestamp_ntz")
    val stored = part(_ < cut)
    val delta = part(_ >= cut)
    Relational.mergeAggregates(stored, delta, Seq("l_returnflag"), Seq("n", "s"))
      .select(col("l_returnflag"), col("n"), col("s").cast("double").as("sum_qty"))
  }

  /** #89 top-k per group: each customer's 3 biggest orders — planned as
   *  WindowGroupLimit, so tasks keep ≤ k rows per group before AND
   *  after the shuffle instead of fully sorting the table. */
  private def q89GroupTopk(s: SparkSession, dir: String): DataFrame =
    Relational.topKPerGroup(
      t(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)

  /** #90 snapshot diff: derive the I/U/D changelog between two keyed
   *  snapshots — the inverse of q83's cdcApply (feed generation for
   *  downstream incremental consumers). The "new" snapshot is derived
   *  deterministically from customer (drops, bumps, synthetic keys). */
  private def q90SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir).customer
    val oldS = cust.select("c_custkey", "c_acctbal")
    val newS = cust.filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit(1.0).as("c_acctbal")))
    StarSchema.snapshotDiff(oldS, newS, Seq("c_custkey"), Seq("c_acctbal"))
  }

  /** #91 heavy-hitter profile: the 20 hottest lineitem part keys with
   *  counts and corpus share — the skew detector run before deciding
   *  on salting (q63/q64 are the fixes). */
  private def q91HeavyHitters(s: SparkSession, dir: String): DataFrame =
    Relational.heavyHitters(t(s, dir).lineitem.select("l_partkey"), "l_partkey", 20)

  /** #92 unpivot/melt: lineitem money columns rotated to long format —
   *  the inverse of q20's pivot, zero shuffle (native Expand). */
  private def q92Unpivot(s: SparkSession, dir: String): DataFrame =
    Relational.melt(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber",
        "l_extendedprice", "l_discount", "l_tax"),
      ids = Seq("l_orderkey", "l_linenumber"),
      values = Seq("l_extendedprice", "l_discount", "l_tax"))

  /** #93 per-key successive difference: order-value delta per customer
   *  under a total (date, key) order; first order per customer is NULL. */
  private def q93KeyDeltas(s: SparkSession, dir: String): DataFrame =
    Events.withDelta(
      t(s, dir).orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
      Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")), "o_totalprice")
      .select("o_orderkey", "o_custkey", "delta")

  /** #94 cohort retention triangle over events: users bucketed by
   *  first-activity day, distinct actives per (cohort, day offset). */
  private def q94CohortRetention(s: SparkSession, dir: String): DataFrame =
    Events.cohortRetention(t(s, dir).events, "user_id", "ts")

  /** #95 grouped histogram: per-event-type distribution of event hour —
   *  the reference notebook's per-UF hour histograms (Análise.ipynb),
   *  with per-group [min, max] bounds frames joined back by key instead
   *  of one global bounds row. */
  private def q95GroupHistogram(s: SparkSession, dir: String): DataFrame =
    Relational.histogram(
      t(s, dir).events.select(col("event_type"),
        hour(col("ts")).cast("double").as("event_hour")),
      "event_hour", 12, keys = Seq("event_type"))

  /** #96 multi-column median imputation in ONE pass (the reference
   *  imputes three columns, dag.py:79-81,122-127): zero discounts and
   *  taxes replaced by the median of the non-zero values, both medians
   *  from a single bounds aggregate — one extra scan total. */
  private def q96ImputeMultiMedian(s: SparkSession, dir: String): DataFrame =
    Cleaning.imputeWithMedians(t(s, dir).lineitem,
      Seq("l_discount" -> (col("l_discount") =!= 0.0),
        "l_tax" -> (col("l_tax") =!= 0.0)))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_discount").as("discount_i"), col("l_tax").as("tax_i"))

  /** #97 curation with a source blocklist gate: q55's pipeline plus the
   *  provenance filter real corpus pipelines always run first — exact
   *  blocked sources and an RE2-safe pattern, fused into the scan. */
  private def q97BlocklistCuration(s: SparkSession, dir: String): DataFrame =
    Curation.curate(t(s, dir).documents, "doc_id", "text", "n_chars",
      stopwords = enStop, langs = Seq("en"), minQuality = 0.35,
      blockedSources = Seq("src13", "src7"),
      blockedSourcePatterns = Seq("^src1[0-2]$"))

  /** #98 record-linkage capstone: q84's blocked fuzzy pairs resolved
   *  into clusters by the same connected-components machinery the LSH
   *  near-dup path uses (q59/q73) — the CC layer composes over non-LSH
   *  pair sources. Keeper = min part id per cluster, the resolution step
   *  the reference's brand/model linkage (dag.py:184-196) stops short
   *  of. Oracle: recursive-CTE transitive closure over the same
   *  levenshtein pair set. */
  private def q98FuzzyClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(fuzzyPartPairs(s, dir))

  /** #99 exact-substring decontamination: the oracle-backed twin of
   *  q60's winnow path — 40-char excerpts of the benchmark split,
   *  matched by verbatim containment through Curation.excerptSpans'
   *  two-path split: a small fixed benchmark broadcasts into a
   *  CONTAINS nested loop, while an excerpt list growing with the
   *  corpus (this entry at sf1+: 618 excerpts) switches to the
   *  anchor-gram equi-join, identical by construction. Upgrades the
   *  decontamination family from spec-trust to hash-trust. */
  private def q99DecontamExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documents
    val excerpts = docs.filter(col("doc_id") % 97 === 0)
      .select(substring(col("text"), 10, 40).as("excerpt"))
      .filter(length(col("excerpt")) === 40).distinct()
    Curation.containsExcerptFlags(docs, "doc_id", col("text"), excerpts, "excerpt")
  }

  /** #100 exact distinct rollup: per-(type, day) distinct-member state
   *  re-aggregated to per-type distinct users WITHOUT rescanning the
   *  fact table — the exact twin of q85's HLL sketch rollup, and
   *  oracle-equal to a direct COUNT(DISTINCT) by construction. */
  private def q100DistinctRollup(s: SparkSession, dir: String): DataFrame = {
    val partials = Relational.distinctPartials(
      t(s, dir).events.withColumn("day", to_date(col("ts"))),
      Seq("event_type", "day"), "user_id")
    Relational.exactDistinctRollup(partials, Seq("event_type"), "user_id")
  }

  /** #101 overlapping document chunking (RAG/embedding prep): 400-char
   *  windows advancing by 350, so consecutive chunks share 50 chars of
   *  context. Pure per-row explode — zero shuffle. */
  private def q101ChunkDocs(s: SparkSession, dir: String): DataFrame =
    Features.chunkDocuments(t(s, dir).documents, "doc_id", "text",
      chunkChars = 400, overlapChars = 50)

  /** #102 deterministic per-source cap: at most 10 documents per
   *  source, ranked by each doc's id hash — per-source balancing with
   *  no RNG; WindowGroupLimit prunes to k rows per (task, group)
   *  before the exchange. */
  private def q102GroupSample(s: SparkSession, dir: String): DataFrame =
    Features.sampleKPerGroup(
      t(s, dir).documents.select("doc_id", "source"), Seq("source"), "doc_id", 10)

  /** #103 deterministic train/val/test split (80/10/10): a row's label
   *  comes from its own id hash, so the split is engine-portable and
   *  stable under corpus growth — documents never migrate between
   *  splits as data is added. */
  private def q103HashSplit(s: SparkSession, dir: String): DataFrame =
    Features.hashSplit(t(s, dir).documents.select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** #104 one-scan correlation matrix over three measures (quantity
   *  normalized to ≤ 1 so decimal→double products stay below 2^53
   *  scaled units — the q41 invariant). Every moment from ONE
   *  aggregate; the pair rows unfold from the single 1-row frame. */
  private def q104CorrMatrix(s: SparkSession, dir: String): DataFrame =
    Relational.corrMatrix(
      t(s, dir).lineitem.select(
        col("l_discount").as("disc"), col("l_tax").as("tax"),
        (col("l_quantity") / 50).as("qn")),
      Seq("disc", "tax", "qn"))

  /** #105 intra-document repeated-line removal (the TRANSFORM behind
   *  q61's duplicate-line-fraction signal). The synthetic corpus has no
   *  newlines, so — q99-style — each doc plants two copies of its own
   *  80-char prefix as extra lines; the dedup must keep exactly one.
   *  Pure per-row codegen (`array_distinct` keeps first occurrences in
   *  order) — ZERO shuffle, vs q71's corpus-global line dedup. */
  private def q105IntradocDedup(s: SparkSession, dir: String): DataFrame = {
    val planted = concat_ws("\n",
      col("text"), substring(col("text"), 1, 80), substring(col("text"), 1, 80))
    val lines = split(planted, "\n")
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.dedupLinesInDoc(planted).as("text_dedup"),
      (size(lines) - size(array_distinct(lines))).cast("bigint").as("n_removed"))
  }

  /** #106 arbitrary grouping sets: the ((rf, ls), (ls), ()) grains —
   *  NOT a rollup prefix chain and not the full cube — in ONE shuffle,
   *  with grouping() indicators disambiguating subtotal rows. */
  private def q106GroupingSets(s: SparkSession, dir: String): DataFrame =
    Relational.groupingSetsAgg(t(s, dir).lineitem,
      Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_linestatus"), Seq()),
      Seq("l_returnflag", "l_linestatus"),
      Seq(decSum(col("l_quantity")).as("sum_qty"), cnt.as("n")))

  /** #107 overlapping-interval merge (gaps-and-islands union): each
   *  event opens a 30-minute per-user window; overlapping windows merge.
   *  Computed in the epoch-µs integer domain so island breaks are
   *  engine-exact (Spark timestamps are µs, the parquet ts is ns). */
  private def q107IntervalMerge(s: SparkSession, dir: String): DataFrame =
    Events.mergeIntervals(
      t(s, dir).events.select(
        col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lit(1800000000L)).as("end_us")),
      Seq("user_id"), "start_us", "end_us")

  /** #108 ordered-step conversion funnel: users reaching view, then
   *  click strictly after their first view, then purchase strictly
   *  after that click. Timestamps compared in epoch-µs for the same
   *  reason as q107. */
  private def q108Funnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(
      t(s, dir).events.withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us",
      Seq("view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))

  /** #109 robust outlier flags: |acctbal − median| > 3·MAD per market
   *  segment — median/MAD survive the outliers they hunt, unlike the
   *  mean/stddev z-score (q75). */
  private def q109MadOutliers(s: SparkSession, dir: String): DataFrame =
    Cleaning.madOutliers(t(s, dir).customer, "c_acctbal",
        Seq("c_mktsegment"), k = 3.0)
      .select("c_custkey", "c_mktsegment", "c_acctbal", "deviation", "is_outlier")

  /** #110 longest consecutive-day activity streak per user (plus total
   *  active days) — the daily-grain gaps-and-islands twin of q107. */
  private def q110Streaks(s: SparkSession, dir: String): DataFrame =
    Events.streaks(t(s, dir).events, "user_id", "ts")

  /** #111 Jaro-Winkler record linkage over q84's blocked entities: the
   *  prefix-weighted, transposition-tolerant scorer human-keyed name
   *  variants need, as a codegen Catalyst expression (plans/
   *  JaroWinkler.scala) bit-matching DuckDB's jaro_winkler_similarity
   *  on ASCII (19,900/19,900 pairs in the parity sweep; on multi-byte
   *  text DuckDB scores BYTES — ours scores code points, documented). */
  private def q111JaroLinkage(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir).part.select(
      col("p_partkey"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("entity"),
      concat_ws("\u0001", col("p_name"), col("p_brand")).as("blk"))
    Dedup.scoredPairs(p, "p_partkey", "entity", col("blk"),
      (a, b) => TextFns.jaroWinkler(s, a, b), minScore = 0.9, simName = "jw")
  }

  /** #112 truncated exponential smoothing of each user's event values —
   *  the distributable, engine-portable form of pandas `ewm` (weights
   *  dyadic, so every multiply is exact; see Events.ewmaSmoothed). */
  private def q112Ewma(s: SparkSession, dir: String): DataFrame =
    Events.ewmaSmoothed(
        t(s, dir).events.select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), Seq(col("ts"), col("event_id")),
        "value", alpha = 0.5, depth = 8)
      .select("event_id", "user_id", "value", "ewma")

  /** #113 rolling-window anomaly flags over each user's event values:
   *  |v − mean| > 3·σ over the 24 rows strictly before each event,
   *  moments via exact windowed decimal sums. */
  private def q113RollingAnomaly(s: SparkSession, dir: String): DataFrame =
    Relational.rollingAnomalies(
        t(s, dir).events.select("event_id", "user_id", "ts", "value"),
        "value", Seq("user_id"), Seq(col("ts"), col("event_id")),
        window = 24, k = 3.0)
      .select("event_id", "user_id", "value", "roll_mean", "roll_std", "is_anomaly")

  /** #114 event-type transition (Markov bigram) matrix with per-origin
   *  probabilities — one lead window, no sequence self-join. */
  private def q114Transitions(s: SparkSession, dir: String): DataFrame =
    Events.transitions(t(s, dir).events, "user_id",
      Seq(col("ts"), col("event_id")), "event_type")

  /** #115 ABC / Pareto classification of parts by revenue within each
   *  brand: exact-decimal cumulative shares over per-brand windows. */
  private def q115AbcParts(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val rev = tt.lineitem
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .cast("decimal(18,4)").as("__grev"))
      .join(broadcast(tt.part.select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
    Relational.abcClassify(rev, Seq("p_brand"), "__grev", Seq("l_partkey"))
      .select(col("p_brand"), col("l_partkey"), col("__grev").cast("double").as("revenue"),
        col("cum_share"), col("abc_class"))
  }

  /** #116 distribution-shape profile: exact, order-independent
   *  population skewness and kurtosis of the discount per return flag
   *  (the profiling stats pandas `.skew()/.kurt()` gives that a
   *  streaming-merge `skewness()` can't reproduce bit-stably). */
  private def q116ShapeStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        decSkewnessPop(col("l_discount")).as("skew_disc"),
        decKurtosisPop(col("l_discount")).as("kurt_disc"),
        cnt.as("n"))

  /** #117 RFM customer segmentation from orders, scored within each
   *  market segment (per-segment ntile windows parallelize; a global
   *  ntile would funnel one partition). */
  private def q117RfmScores(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val tx = tt.orders
      .join(broadcast(tt.customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))), "o_custkey")
    Features.rfmScores(tx, "o_custkey", Seq("c_mktsegment"),
      "o_orderdate", "o_totalprice")
  }

  /** #118 token document-frequency quality stats: per-doc mean token
   *  DF and hapax share — the corpus-relative quality signal (high
   *  hapax share = gibberish/OCR noise; see Curation.tokenDfStats). */
  private def q118TokenDf(s: SparkSession, dir: String): DataFrame =
    Curation.tokenDfStats(t(s, dir).documents, "doc_id", "text")

  /** #119 ordered group concatenation: each brand's distinct type
   *  set as one sorted comma-joined string (layout-independent because
   *  the SORT is inside the aggregate — collect order is not). */
  private def q119OrderedConcat(s: SparkSession, dir: String): DataFrame =
    Relational.orderedConcat(t(s, dir).part, Seq("p_brand"), "p_type",
      distinct = true)

  /** #120 referential-integrity audit in ONE fact scan: orphan counts
   *  for lineitem→part and lineitem→orders (the part dim is filtered
   *  to plant real orphans, q90-style). part is a true dimension →
   *  broadcast hint; orders' key count is ~¼ of the fact rows, so its
   *  presence join stays unhinted — AQE/bloom pick the strategy
   *  (forcing a broadcast there OOMs at scale). */
  private def q120FkOrphans(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    Cleaning.fkIntegrity(tt.lineitem, Seq(
      Cleaning.FkRelation("part", Seq("l_partkey"),
        tt.part.filter(col("p_partkey") % 7 =!= 0), Seq("p_partkey"),
        broadcastDim = true),
      Cleaning.FkRelation("orders", Seq("l_orderkey"), tt.orders,
        Seq("o_orderkey"))))
  }

  /** #121 period-over-period revenue change: monthly decimal-exact
   *  revenue per market segment, then pct_change over the month order
   *  (first month NULL; NULL on zero baselines, by design — see
   *  Events.pctChange's ANSI note). */
  private def q121PctChange(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val monthly = tt.orders
      .join(broadcast(tt.customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))), "o_custkey")
      .groupBy(col("c_mktsegment"), trunc(col("o_orderdate"), "mm").as("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
    Events.pctChange(monthly, Seq("c_mktsegment"), Seq(col("month")), "revenue")
  }

  /** #122 day-of-week seasonality profile per event type: counts and
   *  the n·7/total index (dow 0 = Sunday, the DuckDB convention). */
  private def q122DowSeasonality(s: SparkSession, dir: String): DataFrame =
    Events.dowSeasonality(t(s, dir).events, Seq("event_type"), "ts")

  /** #124 Flesch reading-ease profile of the corpus: exact word /
   *  sentence / vowel-group counts (RE2-portable regexes) and the
   *  fixed-IEEE-sequence score — the readability band filter. */
  private def q124Readability(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_words"),
      TextFns.sentenceCount(col("text")).as("n_sentences"),
      TextFns.syllableEstimate(col("text")).as("n_syllables"),
      TextFns.fleschReadability(col("text")).as("flesch"))

  /** #125 leakage-safe lag features: per-user lags 1/2/7 and trailing
   *  means over the 7 and 28 rows strictly before each event — the
   *  supervised-training feature block (see Features.lagFeatures). */
  private def q125LagFeatures(s: SparkSession, dir: String): DataFrame =
    Features.lagFeatures(
        t(s, dir).events.select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), Seq(col("ts"), col("event_id")),
        "value", lags = Seq(1, 2, 7), meanWindows = Seq(7, 28))
      .drop("ts")

  /** #126 leave-one-out target encoding of suppliers by line price —
   *  the high-cardinality categorical encoder, leak-free. */
  private def q126TargetEncode(s: SparkSession, dir: String): DataFrame =
    Features.targetEncodeLOO(
        t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_suppkey",
          "l_extendedprice"),
        "l_suppkey", "l_extendedprice")
      .drop("l_extendedprice")

  /** #127 session navigation paths: first 5 event types per 30-minute
   *  session joined '>' — order-preserving bounded concat (struct sort
   *  by the total (ts, event_id) prefix), one shuffle with sessionize. */
  private def q127SessionPaths(s: SparkSession, dir: String): DataFrame =
    Events.sessionPaths(t(s, dir).events, "user_id", "ts",
      gapUs = 1800L * 1000000L, state = "event_type", n = 5,
      tieBreak = Seq("event_id"))

  /** #123 n-gram CONTAINMENT between adjacent docs, both directions —
   *  the asymmetric near-dup score (|∩|/|grams(self)|): an excerpt
   *  copied into a long doc scores ~1 where Jaccard (q31) vanishes.
   *  Codegen expression, same gram semantics as q31. The adjacent-id
   *  self-join here is a deterministic ORACLE pairing scaffold (q31's
   *  trick) — in production the candidate pairs come from the LSH /
   *  banding paths (q29 Dedup.minhashLsh, q54 winnowing), and the
   *  scorer composes with those unchanged. */
  private def q123NgramContainment(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val a = d.select(col("doc_id").as("id_a"), col("text").as("__ta"))
    val b = d.select(col("doc_id").as("id_b"), col("text").as("__tb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        TextFns.charGramContainment(s, col("__ta"), col("__tb"), 3).as("cont_ab"),
        TextFns.charGramContainment(s, col("__tb"), col("__ta"), 3).as("cont_ba"))
  }

  /** #128 accent/diacritic folding (DuckDB `strip_accents` semantics) —
   *  the dedup canonicalization a latin-script corpus needs (the
   *  reference corpus is latin1 pt-BR, dag.py:47). The corpus is
   *  ASCII, so accented variants are planted by an invertible
   *  `translate` spanning Latin-1 Supplement AND Extended-A (ogonek,
   *  macron, double-acute, ring, cedilla, caron, dot-above İ) — the
   *  fold must then recover the original text exactly (`roundtrip`),
   *  and every byte is oracle-compared against DuckDB's NFD-based
   *  `strip_accents` on the same planted text. */
  private def q128StripAccents(s: SparkSession, dir: String): DataFrame = {
    val accented = translate(col("text"),
      "aeiouAEIOUcnszCNSZgty", "ąėīőůĂĘİŌŰçñšžĆŃŞŻģţÿ")
    t(s, dir).documents.select(
      col("doc_id"),
      TextFns.stripAccents(accented).as("folded"),
      (TextFns.stripAccents(accented) === col("text")).as("roundtrip"))
  }

  /** #129 image metadata extraction, construct-then-parse: per-doc
   *  payloads are built NATIVELY as real container headers — PNG IHDR
   *  (big-endian u32 dims), JPEG SOI + variable-length COM segment +
   *  SOF0 (so the SOF offset differs per row and the segment walk is
   *  genuinely exercised), GIF89a (little-endian u16 dims) — then the
   *  codegen [[graft.plans.ImageDims]] expression parses dimensions
   *  BACK from the bytes. The oracle states the planted values
   *  directly: Spark must round-trip construction→parse exactly.
   *  Construction (unhex/lpad/hex) and parsing (byte walk) share no
   *  code. Zero shuffle, pure projection. */
  private def q129ImageMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val w = (col("n_chars") % 1920 + 1).cast("int")
    val h = (col("doc_id") % 1080 + 1).cast("int")
    def be32(c: Column) = unhex(lpad(hex(c), 8, "0"))
    def be16(c: Column) = unhex(lpad(hex(c), 4, "0"))
    def le16(c: Column) = {
      val x = lpad(hex(c), 4, "0")
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + len13 + IHDR
      be32(w), be32(h),
      unhex(lit("0806000000"))) // depth/color/compression/filter/interlace
    val pad = (col("doc_id") % 7).cast("int") // COM body 0..6 extra bytes
    val jpeg = concat(
      unhex(lit("FFD8FFFE")), // SOI + COM marker
      be16(pad + 2), // COM length includes its own 2 bytes
      unhex(lit("41414141414141414141414141").substr(lit(1), pad * 2)),
      unhex(lit("FFC0000B08")), // SOF0 + len + precision
      be16(h), be16(w)) // SOF order: height first
    val gif = concat(
      unhex(lit("474946383961")), // "GIF89a"
      le16(w), le16(h))
    val payload = when(col("doc_id") % 3 === 0, png)
      .when(col("doc_id") % 3 === 1, jpeg)
      .otherwise(gif)
    val dims = Multimodal.imageDims(s, payload)
    d.select(col("doc_id"),
      dims.getField("format").as("format"),
      dims.getField("width").as("width"),
      dims.getField("height").as("height"))
  }

  /** #130 per-segment price∼quantity trend: one-pass exact-moment OLS
   *  (slope/intercept/R²) per return flag — the distributed
   *  `linregress`. Moments are exact decimals; closed forms one fixed
   *  IEEE sequence (q41's discipline). */
  private def q130LinregTrend(s: SparkSession, dir: String): DataFrame =
    Relational.linregGroups(t(s, dir).lineitem, Seq("l_returnflag"),
      "l_quantity", "l_extendedprice")

  /** #131 distribution drift per event type: two-sample KS statistic
   *  between the first and second half of the month — the snapshot
   *  drift gate. Sup-difference argmax runs in exact integer
   *  arithmetic; ONE double division at the end. */
  private def q131KsDrift(s: SparkSession, dir: String): DataFrame =
    Cleaning.ksStatistic(t(s, dir).events, Seq("event_type"), "value",
      col("ts") < lit("2024-01-16").cast("timestamp"))

  /** #132 Benford leading-digit audit of order totals per priority —
   *  the fabricated-amounts screen. Driver-computed log₁₀(1+1/d)
   *  literals are embedded identically in plan and oracle. */
  private def q132Benford(s: SparkSession, dir: String): DataFrame =
    Cleaning.benfordAudit(t(s, dir).orders, Seq("o_orderpriority"),
      "o_totalprice")

  /** #133 sequence-gap audit over a planted-sparse key column: orders
   *  missing every 13th key; two-level (in-bucket window ∥ per-bucket
   *  boundary frame) so no global single-partition ordering ever
   *  happens — the surrogate-key continuity check. */
  private def q133SeqGaps(s: SparkSession, dir: String): DataFrame =
    Relational.sequenceGaps(
      t(s, dir).orders.filter(col("o_orderkey") % 13 =!= 0),
      "o_orderkey", bucketSize = 100L)

  /** #134 robust scaling of extended price within return flag:
   *  (v − median)/IQR — outlier-immune standardization (q75's zscore
   *  moves with the spikes; median/IQR do not). Exact percentiles are
   *  the q40 DuckDB-parity surface. */
  private def q134RobustScale(s: SparkSession, dir: String): DataFrame =
    Features.robustScale(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))

  /** #135 EXACT set-similarity self-join (prefix filtering, PPJoin
   *  family) over document 3-word-shingle sets at Jaccard ≥ 1/2 —
   *  provably no false negatives, unlike LSH (q29): the oracle is the
   *  full brute-force pair set, and the prefix path must reproduce it
   *  EXACTLY (it recovers precisely the corpus's 25 planted near-dup
   *  pairs). Shingles, not unigram tokens: on a template-heavy corpus
   *  unigram-set Jaccard saturates (≥70% of ALL pairs above 0.5) while
   *  shingle sets isolate true near-dups — and their high cardinality
   *  is what makes the rare-first prefix buckets shallow. All
   *  thresholds exact-integer (see Dedup.setSimilarityJoin). */
  private def q135SsjoinPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.setSimilarityJoin(t(s, dir).documents, "doc_id",
      TextFns.wordShingles(s, col("text"), 3), num = 1, den = 2,
      cacheSets = true)

  /** #136 χ² independence audit of return flag × line status as per-cell
   *  contributions — counts/totals exact-integer, expected and (o−e)²/e
   *  one fixed IEEE sequence each; the headline χ² is the caller's sum
   *  (a float total would be the one order-dependent step). */
  private def q136Chi2Cells(s: SparkSession, dir: String): DataFrame =
    Relational.chiSquareCells(t(s, dir).lineitem, "l_returnflag", "l_linestatus")

  /** #137 time-weighted average event value per type (TWAP): Σv·Δt/ΣΔt
   *  with exact-decimal products over exact-µs intervals — the
   *  irregular-sampling mean a plain avg over-weights bursts on. */
  private def q137Twap(s: SparkSession, dir: String): DataFrame =
    Events.timeWeightedAvg(t(s, dir).events, Seq("event_type"), "ts",
      Seq("event_id"), "value")

  /** #138 trailing-7-day rolling distinct active users per day (the
   *  WAU curve): contribute-then-count — distinct (user, day) explodes
   *  to its 7 visible report days, one count-distinct per day. */
  private def q138RollingDau(s: SparkSession, dir: String): DataFrame =
    Events.rollingDistinct(t(s, dir).events, "user_id", "ts", windowDays = 7)

  /** #139 sorted-neighborhood (SNM) linkage pairs: rank by p_name
   *  within brand blocks, window-3 neighbors, Jaro-Winkler ≥
   *  0.92 (q111's codegen scorer, bit-equal to DuckDB on ASCII) —
   *  the third blocking strategy next to hash blocks (q84) and LSH
   *  banding (q29). */
  private def q139SnmPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(t(s, dir).part, "p_partkey", "p_name",
      sortKey = col("p_name"), blockKey = col("p_brand"), window = 3,
      score = (a, b) => TextFns.jaroWinkler(s, a, b), minScore = 0.92,
      simName = "jw")

  /** #140 exact-dedup capstone: q135's provably-complete shingle-set
   *  SSJoin pair set resolved into clusters by the q59/q62/q98
   *  connected-components machinery — the third oracle-exercised pair
   *  source for the CC layer (levenshtein q98, CTE-closure q62, now
   *  prefix-filtered Jaccard). */
  private def q140SsjoinClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(q135SsjoinPrefix(s, dir))

  /** #141 cumulative-distinct growth curve: first-seen collapse (one
   *  row per user), per-day new counts, running total over the bounded
   *  day frame — "total unique users over time" without any
   *  distinct-over-window state. */
  private def q141CumulativeDistinct(s: SparkSession, dir: String): DataFrame =
    Events.cumulativeDistinct(t(s, dir).events, "user_id", "ts")

  /** #142 A/B conversion readout with Wilson 95% intervals (hash-split
   *  variants, purchase conversion): exact trial/conversion counts,
   *  exact-ratio rate, fixed-IEEE Wilson bounds — sqrt is correctly
   *  rounded everywhere; no ln/pow in compared columns. */
  private def q142AbLift(s: SparkSession, dir: String): DataFrame =
    Events.abConversion(t(s, dir).events, pmod(col("user_id"), lit(2)),
      "user_id", col("event_type") === "purchase")

  /** #143 bigram language-model table with add-1 smoothing: zero-
   *  shuffle per-row bigram generation (zip_with of shifted slices),
   *  map-side-combined counts, broadcast (N, V) scalars, exact-int
   *  probabilities. */
  private def q143BigramLm(s: SparkSession, dir: String): DataFrame =
    Curation.bigramCounts(t(s, dir).documents, "text")

  /** #144 last-touch conversion attribution: every purchase credited
   *  to the user's most recent prior non-purchase event type via one
   *  strictly-before window (`last` ignoreNulls skips other
   *  conversions); first purchase with no prior touch → NULL
   *  (organic). */
  private def q144Attribution(s: SparkSession, dir: String): DataFrame =
    Events.lastTouchAttribution(
      t(s, dir).events.select("event_id", "user_id", "ts", "event_type"),
      "user_id", "ts", Seq("event_id"), "event_type",
      col("event_type") === "purchase")
      .select("event_id", "user_id", "attributed_source")

  /** #145 percent-rank (quantile) feature transform of price within
   *  return flag — the monotone-distortion-immune scaler; ties share
   *  ranks so equal inputs map equal, layout-independent with no
   *  tie-break column. */
  private def q145PercentRank(s: SparkSession, dir: String): DataFrame =
    Features.percentRankScale(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))

  /** #146 near-dup graph degree distribution over q135's exact pair
   *  set — isolated twins vs template clusters, the audit BEFORE a
   *  resolution run. Linear explode + two count groupBys. */
  private def q146DegreeStats(s: SparkSession, dir: String): DataFrame =
    Dedup.degreeDistribution(q135SsjoinPrefix(s, dir))

  /** #147 2-D equi-width histogram (quantity × price heatmap frame):
   *  one broadcast bounds row, fixed-IEEE bucket arithmetic per axis,
   *  map-side-combined cell counts. */
  private def q147Hist2d(s: SparkSession, dir: String): DataFrame =
    Relational.histogram2d(t(s, dir).lineitem, "l_quantity",
      "l_extendedprice", nx = 10, ny = 8)

  /** #148 market-basket co-purchase support: unordered part pairs
   *  sharing an order, support ≥ 2 — the frequent-itemset base table.
   *  Fan-out bounded by basket size squared, never table-squared. */
  private def q148Copurchase(s: SparkSession, dir: String): DataFrame =
    Relational.copurchasePairs(
      t(s, dir).lineitem.select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minSupport = 2L)

  /** #149 Pareto frontier of parts over (size, retail price), both
   *  maximized: the non-dominated set via one running max over the
   *  collapsed ≤|distinct size| frame — O(n log n) vs the oracle's
   *  quadratic NOT EXISTS; comparisons only, floats never touched. */
  private def q149Skyline(s: SparkSession, dir: String): DataFrame =
    Relational.skyline2d(
      t(s, dir).part.select("p_partkey", "p_size", "p_retailprice"),
      "p_size", "p_retailprice")

  /** #150 quantity-weighted median price per return flag: cumulative
   *  exact-decimal weights in a ties-atomic RANGE frame, threshold test
   *  2·cum ≥ total in exact integer arithmetic, output the untouched
   *  input double. */
  private def q150WeightedMedian(s: SparkSession, dir: String): DataFrame =
    Relational.weightedMedian(
      t(s, dir).lineitem.select("l_returnflag", "l_extendedprice", "l_quantity"),
      "l_extendedprice", "l_quantity", Seq("l_returnflag"))

  /** #151 triangle enumeration over q135's provably-complete near-dup
   *  pair graph — the transitivity audit before a CC resolution run;
   *  two key-partitioned joins, each triple emitted once (a<b<c). */
  private def q151Triangles(s: SparkSession, dir: String): DataFrame =
    Dedup.triangles(q135SsjoinPrefix(s, dir))

  /** #152 audio container metadata (q129's audio sibling): WAV payloads
   *  built with a variable-length JUNK chunk before `fmt ` (the parser
   *  must actually walk chunks) and a headers-only `data` chunk; FLAC
   *  STREAMINFO bit-packed fields computed by integer arithmetic.
   *  Construction and parser share no code; the oracle states the
   *  planted values, which Spark must recover by parsing. */
  private def q152AudioMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val id = col("doc_id")
    val ch = (id % 3 + 1).cast("int")
    val rate = when(id % 3 === 0, 8000).when(id % 3 === 1, 16000)
      .otherwise(44100).cast("int")
    val bits = when(id % 3 === 0, 8).when(id % 3 === 1, 16)
      .otherwise(24).cast("int")
    val block = (ch * bits / lit(8)).cast("int")
    val frames = col("n_chars").cast("long")
    def le16(c: Column) = {
      val x = lpad(hex(c), 4, "0")
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le32(c: Column) = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    def byte(c: Column) = unhex(lpad(hex(c), 2, "0"))
    val pad = (id % 5).cast("int") // JUNK body 0..4 bytes (+1 when odd)
    val wav = concat(
      unhex(lit("52494646")), le32(lit(0)), unhex(lit("57415645")),
      unhex(lit("4A554E4B")), le32(pad), // JUNK before fmt: forces the walk
      unhex(lit("4141414141").substr(lit(1), pad * 2)),
      unhex(when(pad % 2 === 1, "00").otherwise("")), // even-size padding
      unhex(lit("666D742010000000")), le16(lit(1)), le16(ch),
      le32(rate), le32(rate * block), le16(block), le16(bits),
      unhex(lit("64617461")), le32(frames * block)) // size only, no body
    val flac = concat(
      unhex(lit("664C6143")), // "fLaC"
      unhex(lit("80000022")), // last-block flag + type 0 + len 34
      unhex(lit("10001000")), // min/max blocksize 4096
      unhex(lit("000000000000")), // min/max framesize (unset)
      byte(shiftright(rate, 12)),
      byte(shiftright(rate, 4).bitwiseAND(lit(255))),
      byte(shiftleft(rate.bitwiseAND(lit(15)), 4)
        .bitwiseOR(shiftleft(ch - 1, 1))
        .bitwiseOR(shiftright(bits - 1, 4))),
      byte(shiftleft((bits - 1).bitwiseAND(lit(15)), 4)
        .bitwiseOR(shiftright(frames, 32).bitwiseAND(lit(15L)))),
      byte(shiftright(frames, 24).bitwiseAND(lit(255L))),
      byte(shiftright(frames, 16).bitwiseAND(lit(255L))),
      byte(shiftright(frames, 8).bitwiseAND(lit(255L))),
      byte(frames.bitwiseAND(lit(255L))),
      unhex(lit("00000000000000000000000000000000"))) // MD5 (unset)
    val payload = when(id % 2 === 0, wav).otherwise(flac)
    val meta = Multimodal.audioMeta(s, payload)
    d.select(id,
      meta.getField("format").as("format"),
      meta.getField("channels").as("channels"),
      meta.getField("sample_rate").as("sample_rate"),
      meta.getField("bits").as("bits"),
      meta.getField("n_frames").as("n_frames"))
  }

  /** #153 URL canonicalization: messy crawl URLs (mixed-case scheme and
   *  host, default ports, tracking params out of order, fragments,
   *  trailing slashes) built per row, then canonicalized; the oracle
   *  states the clean form directly. */
  private def q153UrlCanon(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val id = col("doc_id")
    val messy = concat(
      when(id % 2 === 0, "HTTP").otherwise("HTTPS"),
      lit("://WWW.Site"), (id % 7).cast("string"), lit(".COM"),
      when(id % 2 === 0, ":80").otherwise(":443"),
      lit("/Products/item"), id.cast("string"),
      when(id % 3 === 0, "/").otherwise(""),
      lit("?utm_source=news&z=9&utm_campaign=c&a="), (id % 3).cast("string"),
      lit("#sec"), (id % 4).cast("string"))
    d.select(id, TextFns.canonicalizeUrl(messy).as("url_canon"))
  }

  /** #154 equal-count quartile bucketing of price within return flag —
   *  ntile is row-position based, so the (price, orderkey, linenumber)
   *  ordering is total by construction. */
  private def q154Ntile(s: SparkSession, dir: String): DataFrame =
    Features.ntileBuckets(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"), n = 4,
      tieBreak = Seq("l_orderkey", "l_linenumber"))

  /** #155 per-document LM score from the corpus's own add-1 bigram
   *  counts: exact-rational to the last step (shared smoothing
   *  denominator ⇒ mean prob = (Σc+k)/(k·(N+V)), one double division).
   *  Sub-2-token documents have no bigrams and drop out. */
  private def q155LmScore(s: SparkSession, dir: String): DataFrame =
    Curation.lmScore(t(s, dir).documents, "doc_id", "text")

  /** #156 LOCF fill of a sensor-style series: nulls planted
   *  deterministically (event_id % 5), carried forward per user in
   *  (ts, event_id) total order; leading nulls stay null. */
  private def q156Locf(s: SparkSession, dir: String): DataFrame =
    Cleaning.locf(
      t(s, dir).events.select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value"))
          .as("masked")),
      "masked", Seq("user_id"), Seq("ts", "event_id"), out = "value_filled")
      .select("event_id", "user_id", "value_filled")

  /** #157 distinctive vocabulary per source (χ² keywords): top-5
   *  over-represented tokens per source vs the rest of the corpus —
   *  exact-integer cells, q136's fixed IEEE marginal sequence, total
   *  (contribution desc, token) ranking. */
  private def q157SourceKeywords(s: SparkSession, dir: String): DataFrame =
    Curation.distinctiveTokens(t(s, dir).documents, "source", "text", k = 5)

  /** #158 l-diversity suppression on customers: (nation, segment)
   *  groups whose account balances carry fewer than 12 distinct values
   *  lose their quasi-identifiers — k-anonymity's uniform-sensitive
   *  complement. */
  private def q158LDiversity(s: SparkSession, dir: String): DataFrame =
    Cleaning.lDiversify(
      t(s, dir).customer.select("c_custkey", "c_nationkey", "c_mktsegment",
        "c_acctbal"),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 12L)
      .select("c_custkey", "c_nationkey", "c_mktsegment", "qi_suppressed")

  /** #159 CUSUM drift scores over daily event-value totals per type,
   *  against a 50-per-event reference level: deviation, prefix, and
   *  running extrema all exact-decimal; days are unique per key after
   *  the aggregation, so the window order is total. */
  private def q159Cusum(s: SparkSession, dir: String): DataFrame =
    Events.cusumScores(
      t(s, dir).events
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("__gsx"), cnt.as("n")),
      Seq("event_type"), Seq(col("day")),
      valueCol = col("__gsx"), targetCol = col("n") * 50)
      .select("event_type", "day", "dev", "cusum_pos", "cusum_neg")

  /** #160 5–95% trimmed mean price per return flag: exact percentile
   *  band (q40 parity) + exact-decimal conditional mean — the robust
   *  KPI where a plain mean follows the tails. */
  private def q160TrimmedMean(s: SparkSession, dir: String): DataFrame =
    Relational.trimmedMean(
      t(s, dir).lineitem.select("l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))

  /** #161 Gini coefficient of revenue per return flag — exact decimal
   *  Σi·x / Σx moments into one fixed IEEE closed form; tie order
   *  provably cancels in the sum. */
  private def q161Gini(s: SparkSession, dir: String): DataFrame =
    Relational.gini(
      t(s, dir).lineitem.select("l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))

  /** #162 user-concentration HHI per event type — the "one user
   *  dominates this segment" abuse audit; exact-rational Σc²/T². */
  private def q162Hhi(s: SparkSession, dir: String): DataFrame =
    Relational.hhi(t(s, dir).events.select("event_type", "user_id"),
      "event_type", "user_id")

  /** #163 full corpus-prep capstone — the reference pipeline a real
   *  user runs end-to-end in ONE plan: blocklist/lang/quality curation
   *  + exact dedup (q55) → exact-substring decontamination against the
   *  q99 benchmark excerpts (anti-join) → deterministic hash split
   *  (q103). Output is the training manifest (doc_id, lang, quality,
   *  split). */
  private def q163FullPrep(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val curated = Curation.curate(d, "doc_id", "text", "n_chars",
      stopwords = enStop, langs = Seq("en"), minQuality = 0.35)
    val excerpts = d.filter(col("doc_id") % 97 === 0)
      .select(substring(col("text"), 10, 40).as("excerpt"))
      .filter(length(col("excerpt")) === 40).distinct()
    val flagged = Curation.containsExcerptFlags(d, "doc_id", col("text"),
        excerpts, "excerpt")
      .select(col("doc_id").as("__gflag"))
    val clean = Relational.antiJoin(curated, flagged,
      col("doc_id") === col("__gflag"))
    Features.hashSplit(clean, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  /** #164 period-over-period contribution: which order priority drove
   *  the 1996→1997 revenue change — per-segment exact-decimal deltas,
   *  one broadcast overall-delta scalar, shares sum to 1. */
  private def q164Contribution(s: SparkSession, dir: String): DataFrame =
    Relational.deltaContribution(
      t(s, dir).orders.select("o_orderpriority", "o_orderdate", "o_totalprice"),
      Seq("o_orderpriority"), col("o_totalprice"),
      isCurrent = year(col("o_orderdate")) === 1997,
      isPrior = year(col("o_orderdate")) === 1996)

  /** #165 rolling 7-row median event value per type — the robust
   *  rolling smoother; quantile interpolation parity is the q40-pinned
   *  bit contract, ordering total via (ts, event_id). */
  private def q165RollingQuantile(s: SparkSession, dir: String): DataFrame =
    Relational.rollingQuantile(
      t(s, dir).events.select("event_id", "event_type", "ts", "value"),
      "value", Seq("event_type"), Seq(col("ts"), col("event_id")),
      window = 7, p = 0.5)
      .select("event_id", "event_type", "value", "rolling_q")

  /** #166 the rank family in one window: rank / dense_rank / cume_dist
   *  of price within return flag — all value-deterministic under ties
   *  (no tie-break needed), cume_dist an exact two-integer division.
   *  [[Relational.rankFamily]] distributes the rank over value-range
   *  cells above the size threshold (3 return flags never bound the
   *  parallelism), and — because every output is tie-invariant — its
   *  shrink probe routes tying value columns onto the distinct
   *  (flag, price) frame instead (sf10: 60 M rows shrink 101× to
   *  594 k, 61.4 → 23.4 s min-of-3; the fact rows never sort). */
  private def q166RankFamily(s: SparkSession, dir: String): DataFrame =
    Relational.rankFamily(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber",
        "l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"))

  /** #167 k-NN majority-vote labels for the q32 query set — the
   *  label-propagation primitive over the exact neighbor order;
   *  deterministic (count desc, label) vote. */
  private def q167KnnLabel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    Similarity.knnClassify(s, e, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", "label", k = 5)
  }

  /** #168 embedding hygiene audit: dimension count + exact NaN/zero
   *  flags per vector — the malformed-vector screen before any cosine
   *  math; zero shuffle, no floats in the output. */
  private def q168EmbeddingAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingAudit(t(s, dir).embeddings, "vec_id", "embedding")

  /** #169 decile lift / gains table: do high-value events concentrate
   *  purchases? Rank by value desc into 10 buckets; per-bucket positive
   *  rate and lift vs the overall rate — exact counts, one division
   *  each. */
  private def q169DecileLift(s: SparkSession, dir: String): DataFrame =
    Features.decileLift(
      t(s, dir).events.select("event_id", "event_type", "value"),
      "value", positive = col("event_type") === "purchase", keys = Nil,
      n = 10, tieBreak = Seq("event_id"))

  /** #170 reciprocal-rank fusion of the cosine and inner-product
   *  rankings (the two orders genuinely disagree on unnormalized
   *  embeddings): 1/(60+ra) + 1/(60+rb), top-5 per query. */
  private def q170RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    val q = e.filter(col("vec_id") < 8)
    Similarity.rrfFusion(
      Similarity.bruteForceTopK(s, e, q, "vec_id", "embedding", k = 20),
      Similarity.dotTopK(e, q, "vec_id", "embedding", k = 20),
      k = 5)
  }

  /** #171 k-NN evaluation loop closed: confusion matrix of q167's
   *  majority-vote predictions against the queries' true labels. */
  private def q171KnnConfusion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    q167KnnLabel(s, dir)
      .join(e.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .groupBy(col("true_label"), col("predicted_label"))
      .agg(cnt.as("n"))
  }

  /** #172 Cohen's kappa over q171's confusion matrix — chance-corrected
   *  agreement of the k-NN labeler with ground truth; exact marginals,
   *  one fixed IEEE division sequence. */
  private def q172CohensKappa(s: SparkSession, dir: String): DataFrame =
    Features.cohensKappa(q171KnnConfusion(s, dir),
      "true_label", "predicted_label", "n")

  /** #173 cross-source duplication matrix. The corpus has no natural
   *  cross-source duplicate lines at this sf, so the entry synthesizes
   *  them deterministically (the q71 boilerplate precedent, mirrored in
   *  the oracle): each doc carries a 'shared block (doc_id mod 7)' line
   *  plus its unique text line; sources sharing a block line overlap.
   *  The operator itself is generic over any line-structured corpus. */
  private def q173SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"), col("source"),
      concat(lit("shared block "), col("doc_id") % 7, lit("\n"), col("text"))
        .as("text"))
    Curation.sourceOverlap(d, "source", "text")
  }

  /** #174 per-source boilerplate stripping: banner/footer lines planted
   *  in every doc of a source (the q71 synthesis precedent) are removed
   *  corpus-wide; each doc's unique middle line survives. */
  private def q174BoilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"), col("source"),
      concat(lit("banner for "), col("source"), lit("\n"), col("text"),
        lit("\nfooter for "), col("source")).as("text"))
    Curation.boilerplateStrip(d, "doc_id", "source", "text", minDocs = 5)
  }

  /** #175 feature hashing (the hashing trick): token → md5-hex bucket
   *  mod 64, per-doc bucket counts in exploded sparse form — no
   *  vocabulary pass, bounded width, engine-portable hash. */
  private def q175FeatureHashing(s: SparkSession, dir: String): DataFrame =
    Features.hashingTrick(t(s, dir).documents, "doc_id", "text", nBuckets = 64)

  /** #176 dedup impact accounting per source: every fifth doc is
   *  collapsed onto one shared payload (deterministic synthesis — the
   *  corpus has no natural exact dups at this sf), so the report shows
   *  each source's doc/char counts, keep-first survivors, and duplicate
   *  fraction, with cross-source dups charged to every source but the
   *  first. */
  private def q176DedupImpact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"), col("source"),
      when(col("doc_id") % 5 === 0, lit("common duplicate payload"))
        .otherwise(col("text")).as("text"))
    Dedup.dedupImpact(d, "doc_id", "source", "text")
  }

  /** #177 exact ROC AUC of event value as a purchase classifier —
   *  Mann-Whitney over the value-aggregated distribution, no per-row
   *  rank window; one IEEE division at the end. */
  private def q177AucExact(s: SparkSession, dir: String): DataFrame =
    Features.aucExact(
      t(s, dir).events.select("event_type", "value"),
      "value", positive = col("event_type") === "purchase")

  /** #178 Spearman rank correlation of quantity vs price — average-rank
   *  ties via value-aggregated closed form, Pearson on doubled ranks
   *  through exact decimal moments. */
  private def q178Spearman(s: SparkSession, dir: String): DataFrame =
    Features.spearmanRho(
      t(s, dir).lineitem.select("l_quantity", "l_extendedprice"),
      "l_quantity", "l_extendedprice")

  /** #179 exact two-sample KS statistic: purchase vs non-purchase event
   *  values — integer numerator maxed over the aggregated value frame,
   *  one final division. */
  private def q179KsTest(s: SparkSession, dir: String): DataFrame =
    Features.ksStatistic(
      t(s, dir).events.select("event_type", "value"),
      "value", inA = col("event_type") === "purchase")

  /** #180 temperature-scaled (T=2) source mixing weights over the
   *  document corpus — √share, decimal-summed normalizer, the
   *  mixtureSample feeder. */
  private def q180MixWeights(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureWeights(t(s, dir).documents, "source")

  /** #181 bloom-prefiltered incremental-ingest dedup. Baseline =
   *  doc_id < 100 carrying payloads keyed by doc_id mod 10 (all ten in
   *  baseline); batch = doc_id ≥ 100, where multiples of 4 repeat a
   *  baseline payload (true dups → bloom hit → anti-joined away) and
   *  the rest carry fresh unique text (mostly bloom misses → zero-join
   *  keep; fpp hits take the join and survive it). Exact semantics =
   *  the oracle's plain anti-join, independent of fpp. */
  private def q181IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documents
    val base = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("source"),
        concat(lit("payload "), col("doc_id") % 10).as("text"))
    val fresh = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 4 === 0, concat(lit("payload "), col("doc_id") % 10))
          .otherwise(concat(lit("fresh "), col("doc_id"))).as("text"))
    Dedup.incrementalDedup(fresh, base, "text",
      expectedItems = 1000L, fpp = 0.03)
  }

  /** #182 reliability/calibration bins: does a high event value predict
   *  purchases at a proportionally higher rate? Fixed-width bins over
   *  [0, 500), exact counts, one division per bin. */
  private def q182Calibration(s: SparkSession, dir: String): DataFrame =
    Features.calibrationBins(
      t(s, dir).events.select("event_type", "value"),
      "value", positive = col("event_type") === "purchase",
      nBins = 10, lo = 0.0, hi = 500.0)

  /** #183 vocabulary growth over the doc-id axis (10 range buckets):
   *  first-appearance counts + running vocabulary — the "is new data
   *  novel?" curve; token → min(doc) is the only data shuffle. */
  private def q183VocabGrowth(s: SparkSession, dir: String): DataFrame =
    Curation.vocabGrowth(t(s, dir).documents, "doc_id", "text", nBuckets = 10)

  /** #184 Gopher-style unique-word fraction per doc: the repetition
   *  screen (near-zero fraction = TEMPLATE/degenerate text). Pure
   *  per-row array ops — zero shuffle; token list staged ONCE then
   *  referenced, never recomputed through nested HOFs. */
  private def q184UniqueWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir).documents
      .withColumn("__gtoks",
        filter(TextFns.tokens(col("text")), t => t =!= lit("")))
      .select(col("doc_id"),
        size(col("__gtoks")).as("n_tokens"),
        size(array_distinct(col("__gtoks"))).as("n_distinct"))
      .withColumn("uniq_frac",
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens").cast("double")))

  /** #185 token-budget allocation: 1M-token target split by T=2
   *  tempered TOKEN share; epochs = alloc/available flags oversampling.
   *  The q180 weights applied to the measure that feeds the model. */
  private def q185TokenBudget(s: SparkSession, dir: String): DataFrame =
    Curation.tokenBudget(t(s, dir).documents, "source", "text",
      targetTokens = 1000000L)

  /** #186 per-source quality report card: q26's per-doc quality recipe
   *  rolled up to exact percentiles per source — the ingest-review
   *  one-pager. */
  private def q186QualityReport(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val perDoc = t(s, dir).documents.select(
      col("source"),
      TextFns.tokenCount(col("text")).as("n_toks"),
      TextFns.qualityScore(
        TextFns.tokenCount(col("text")),
        TextFns.stopwordHits(toks, enStop),
        col("n_chars")).as("q"))
    Curation.sourceQualityReport(perDoc, "source", "n_toks", "q")
  }

  /** #187 dedup threshold operating curve over q135's ssjoin pairs
   *  (computed once at the lowest cutoff 0.7): pairs fired and docs
   *  touched at 0.7 / 0.8 / 0.9 — the evidence behind a cutoff choice. */
  private def q187ThresholdSweep(s: SparkSession, dir: String): DataFrame =
    Dedup.thresholdSweep(
      Dedup.setSimilarityJoin(t(s, dir).documents, "doc_id",
        TextFns.wordShingles(s, col("text"), 3), num = 7, den = 10,
        cacheSets = true),
      "jaccard", thresholds = Seq(0.7, 0.8, 0.9))

  /** #188 cluster-size histogram over q140's resolved near-dup
   *  clusters: twins vs template families — decides keep-first vs
   *  strip-first. */
  private def q188ClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSizeHistogram(q140SsjoinClusters(s, dir))

  /** #189 functional-dependency audit with planted violations: region
   *  is derived from the customer key (the FD holds) except on orders
   *  whose key is divisible by 101 (deterministic corruption, the q176
   *  synthesis precedent) — the audit must surface exactly those
   *  customers. */
  private def q189FdAudit(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).orders.select(col("o_custkey"),
      when(col("o_orderkey") % 101 === 0, lit("r_corrupt"))
        .otherwise(concat(lit("r"), col("o_custkey") % 5)).as("region"))
    Cleaning.fdAudit(d, "o_custkey", "region")
  }

  /** #190 offline changepoint per event type: argmax of the exact
   *  CUSUM max-distance |n·S_i − i·S| over (ts, event_id) order — WHERE
   *  the mean shifted, after q159's alarm said that it did. */
  private def q190Changepoint(s: SparkSession, dir: String): DataFrame =
    Events.changepoint(
      t(s, dir).events.select("event_id", "event_type", "ts", "value")
        .filter(col("ts").isNotNull), // Spark sorts NULL ts first, DuckDB last
      Seq("event_type"), Seq(col("ts"), col("event_id")), "value")

  /** #191 per-type OLS drift trend: slope/intercept of value vs
   *  key-centered epoch seconds from exact decimal moments — the drift
   *  rate next to q190's location. */
  private def q191Trend(s: SparkSession, dir: String): DataFrame =
    Events.trendOls(
      t(s, dir).events.select("event_type", "ts", "value"),
      Seq("event_type"), col("ts"), "value")

  /** #192 golden-record consolidation over q98's fuzzy part clusters:
   *  one canonical row per cluster (modal brand/type/size, keeper id);
   *  singletons consolidate as themselves. The record-linkage
   *  survivorship capstone. */
  private def q192GoldenRecord(s: SparkSession, dir: String): DataFrame =
    Dedup.goldenRecord(
      t(s, dir).part.select("p_partkey", "p_brand", "p_type", "p_size"),
      q98FuzzyClusters(s, dir), "p_partkey",
      Seq("p_brand", "p_type", "p_size"))

  /** #193 within-source percentile normalization of q26's quality
   *  score — "top X% of EACH source" thresholds despite per-source
   *  scale drift; cume_dist is an exact count ratio. */
  private def q193PctNormalize(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val perDoc = t(s, dir).documents.select(
      col("doc_id"), col("source"),
      TextFns.qualityScore(
        TextFns.tokenCount(col("text")),
        TextFns.stopwordHits(toks, enStop),
        col("n_chars")).as("q"))
    Features.percentileNormalize(perDoc, Seq("source"), "q")
  }

  /** #194 lag-1 autocorrelation of event value per type over
   *  (ts, event_id) order — mean-reverting vs sticky; exact decimal
   *  moments on the (v, v_prev) pair frame. */
  private def q194Autocorr(s: SparkSession, dir: String): DataFrame =
    Events.autocorr(
      t(s, dir).events.select("event_id", "event_type", "ts", "value")
        .filter(col("ts").isNotNull), // NULL ts order differs across engines
      Seq("event_type"), Seq(col("ts"), col("event_id")), "value")

  /** #195 ranking-agreement eval: overlap@5 between the cosine and
   *  inner-product retrievers per query — does normalization change
   *  what we retrieve? Exact set intersection, one division by k. */
  private def q195TopkOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    val q = e.filter(col("vec_id") < 8)
    Similarity.topKOverlap(
      Similarity.bruteForceTopK(s, e, q, "vec_id", "embedding", k = 5),
      Similarity.dotTopK(e, q, "vec_id", "embedding", k = 5), k = 5)
  }

  /** #196 PII density per source over q68's planted corpus — the
   *  governance sign-off table: what redaction WOULD touch, per class,
   *  per 1k tokens. */
  private def q196PiiDensity(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("source"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact bob@example.com or 10.0.255.7 today")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" call (555) 867-5309 now")))
        .otherwise(col("text")).as("text"))
    Curation.piiDensity(d, "source", "text")
  }

  /** #197 retrieval MRR: mean reciprocal rank of the first same-label
   *  neighbor in the cosine top-10 — the embedding-quality headline
   *  next to q171/q195; reciprocals decimal-summed (order-free). */
  private def q197Mrr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    val q = e.filter(col("vec_id") < 8)
    Similarity.meanReciprocalRank(
      Similarity.bruteForceTopK(s, e, q, "vec_id", "embedding", k = 10),
      e, "vec_id", "label", k = 10)
  }

  /** #198 token frequency spectrum (frequency-of-frequencies): the
   *  Zipf dual and Good-Turing input — a fat singleton band means the
   *  corpus is still discovering vocabulary. */
  private def q198FreqSpectrum(s: SparkSession, dir: String): DataFrame =
    Curation.tokenFrequencySpectrum(t(s, dir).documents, "text")

  /** #199 Welch's t per event type between even/odd user cohorts — the
   *  means A/B readout beside q142's proportions; one conditional-
   *  moment aggregation, fixed IEEE closed form. */
  private def q199WelchT(s: SparkSession, dir: String): DataFrame =
    Features.welchT(
      t(s, dir).events.select("event_type", "user_id", "value"),
      Seq("event_type"), "value", inA = col("user_id") % 2 === 0)

  /** #200 split-leakage audit: q103's id-hash split × q176's planted
   *  duplicate payloads — fingerprints straddling a train/val/test
   *  boundary contaminate the held-out metric; dedup must run BEFORE
   *  splitting. */
  private def q200SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, lit("common duplicate payload"))
        .otherwise(col("text")).as("text"))
    Features.splitLeakage(
      Features.hashSplit(d, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      "split", "text")
  }

  /** #201 PSI drift bins of event value between the month's first and
   *  second half — the production drift alarm: per fixed bin, both
   *  cohorts' counts and (pA−pB)·ln(pA/pB); the q182 bin grid with the
   *  movement term. Empty bins surface via Laplace smoothing. */
  private def q201Psi(s: SparkSession, dir: String): DataFrame =
    Features.psi(t(s, dir).events, "value",
      inA = dayofmonth(col("ts")) <= 15, nBins = 10, lo = 0.0, hi = 500.0)

  /** #202 Cramér's V over q136's return-flag × line-status grid — the
   *  bounded effect size that makes χ² comparable across tables; the
   *  categorical companion to q41's Pearson r. */
  private def q202CramersV(s: SparkSession, dir: String): DataFrame =
    Relational.cramersV(
      Relational.chiSquareCells(t(s, dir).lineitem, "l_returnflag", "l_linestatus"),
      "l_returnflag", "l_linestatus")

  /** #203 PMI collocations (min pair count 10): adjacent word pairs
   *  co-occurring beyond unigram chance — the multiword units a
   *  tokenizer/shingler should treat atomically; template debris at the
   *  top means q173's boilerplate stripper runs first. */
  private def q203Pmi(s: SparkSession, dir: String): DataFrame =
    Curation.pmiCollocations(t(s, dir).documents, "text", minCount = 10)

  /** #204 per-source unigram entropy — the diversity dial beside q186's
   *  report card: a source whose token distribution collapsed (template
   *  spam) sits far below its peers even when doc counts look fine. */
  private def q204SourceEntropy(s: SparkSession, dir: String): DataFrame =
    Curation.sourceEntropy(t(s, dir).documents, "source", "text")

  /** #205 mean NDCG@10 of the cosine retriever with same-label gain —
   *  position-aware beside q197's MRR (which only sees the first hit);
   *  no-hit queries contribute exact 0. */
  private def q205Ndcg(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings
    val q = e.filter(col("vec_id") < 8)
    Similarity.ndcgAtK(
      Similarity.bruteForceTopK(s, e, q, "vec_id", "embedding", k = 10),
      e, "vec_id", "label", k = 10)
  }

  /** #206 Kaplan-Meier user-retention table: per-user lifetime =
   *  first→last event days, censored when the user was still active in
   *  the window's final week — the right-censoring-aware answer a plain
   *  mean lifetime biases low. */
  private def q206KmSurvival(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir).events
    val horizon = ev.agg(max(col("ts")).as("__gmax"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("__gfirst"), max(col("ts")).as("__glast"))
      .crossJoin(broadcast(horizon))
      .select(
        datediff(to_date(col("__glast")), to_date(col("__gfirst"))).as("duration"),
        (col("__glast") <= col("__gmax") - expr("INTERVAL 7 DAYS")).as("churned"))
    Events.kmSurvival(perUser, "duration", "churned")
  }

  /** #207 token burstiness (Katz VMR over containing docs, df ≥ 25):
   *  content words burst, function words spread Poisson-flat — topical
   *  vocabulary vs glue with no stopword list; mechanical template
   *  repetition flags itself. */
  private def q207Burstiness(s: SparkSession, dir: String): DataFrame =
    Curation.tokenBurstiness(t(s, dir).documents, "doc_id", "text", minDf = 25)

  /** #208 mutual information over q136's grid — the additive
   *  information-theoretic effect size feature selection actually ranks
   *  by, beside q202's bounded V. */
  private def q208MutualInfo(s: SparkSession, dir: String): DataFrame =
    Relational.mutualInfo(t(s, dir).lineitem, "l_returnflag", "l_linestatus")

  /** #209 weighted PageRank (5 power iterations, d=0.85) over the
   *  customer-nation → supplier-nation trade graph — which nation's
   *  suppliers sit at the center of the flow, beyond raw edge counts
   *  (q148's support only sees pair frequency). */
  private def q209PageRank(s: SparkSession, dir: String): DataFrame = {
    val tb = t(s, dir)
    val edges = tb.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(tb.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(tb.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(tb.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(tb.nation.select(col("n_nationkey").as("__gcnk"), col("n_name").as("src_nation")),
        col("c_nationkey") === col("__gcnk"))
      .join(tb.nation.select(col("n_nationkey").as("__gsnk"), col("n_name").as("dst_nation")),
        col("s_nationkey") === col("__gsnk"))
      .groupBy(col("src_nation"), col("dst_nation")).agg(count(lit(1)).as("w"))
    Relational.pageRank(edges, "src_nation", "dst_nation", "w",
      iterations = 5, damping = 0.85)
  }

  /** #210 semi-supervised label propagation: every-5th vector seeds its
   *  label, 3 clamped iterations spread them through the cosine kNN
   *  graph (k=3, vec_id<64 demo subgraph — the LSH edge frame of q34 is
   *  the scale path). The weak-supervision workhorse. */
  private def q210LabelProp(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir).embeddings.filter(col("vec_id") < 64)
    Similarity.labelPropagation(
      nodes = e.select(col("vec_id")),
      seeds = e.filter(col("vec_id") % 5 === 0).select(col("vec_id"), col("label")),
      edges = Similarity.bruteForceTopKScored(s, e, e, "vec_id", "embedding", k = 3),
      id = "vec_id", labelCol = "label",
      src = "neighbor_id", dst = "query_id", weightCol = "cosine",
      iterations = 3)
  }

  /** #211 weighted sampling without replacement (Efraimidis-Spirakis,
   *  md5-derived jitter): 20 docs per source, n_chars-proportional —
   *  the quota draw q45's uniform stratified sample cannot express. */
  private def q211WeightedSample(s: SparkSession, dir: String): DataFrame =
    Features.weightedSample(
      t(s, dir).documents.select(col("source"), col("doc_id"), col("n_chars")),
      Seq("source"), "doc_id", "n_chars", k = 20)

  /** #212 MinHash-LSH candidate pairs over the md5-derived (engine-
   *  portable) hash family — the hash-trust twin of q29: the full
   *  signature → band → bucket-join machinery replays in any engine
   *  with md5, so the oracle checks every candidate pair by value.
   *  q29's codegen signatures remain the production hot path. */
  private def q212MinhashMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashMd5(t(s, dir).documents, "doc_id", "text",
      numHashes = 6, bandSize = 2, shingleK = 3)

  /** #213 Jensen-Shannon divergence of each source's unigram
   *  distribution vs the whole corpus — the symmetric, ln2-bounded
   *  "distance from the blend" dial beside q204's within-source
   *  entropy; absent-token mass folds into one ln2·(1−coverage)
   *  closed form. */
  private def q213JsDivergence(s: SparkSession, dir: String): DataFrame =
    Curation.jsDivergence(t(s, dir).documents, "source", "text")

  /** #214 Zipf slope: OLS fit of ln(count) on ln(rank) over the top-100
   *  corpus tokens — organic text ≈ −1, templates flatten, degenerate
   *  generation steepens. Distributed top-k, then a 100-row fit. */
  private def q214ZipfSlope(s: SparkSession, dir: String): DataFrame =
    Curation.zipfSlope(t(s, dir).documents, "text", k = 100)

  /** #215 per-class precision/recall/F1 (+ `__macro__` means) over
   *  q171's k-NN confusion matrix — the per-class readout q172's single
   *  kappa hides. */
  private def q215MacroF1(s: SparkSession, dir: String): DataFrame =
    Relational.classMetrics(
      q171KnnConfusion(s, dir), "true_label", "predicted_label", "n")

  /** #216 association rules over q148's co-purchase supports: both
   *  directed rules per pair with confidence and lift — the base-rate
   *  correction raw support lacks. */
  private def q216AssocRules(s: SparkSession, dir: String): DataFrame =
    Relational.assocRules(
      t(s, dir).lineitem.select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minSupport = 2L)

  /** #217 shingle novelty: per doc, the share of its distinct 3-word
   *  shingles first seen (min doc_id) in that doc — the "new text
   *  added" curve; exact dups score 0, originals 1. */
  private def q217ShingleNovelty(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleNovelty(t(s, dir).documents, "doc_id", "text", k = 3)

  /** #218 the ACF correlogram: q194's lag-1 autocorrelation at every
   *  lag 1..5 in ONE sorted pass (one window, stacked pair frames) —
   *  the seasonality hunt reads the whole table, not one lag. */
  private def q218AcfMulti(s: SparkSession, dir: String): DataFrame =
    Events.acfMulti(
      t(s, dir).events.select("event_id", "event_type", "ts", "value")
        .filter(col("ts").isNotNull),
      Seq("event_type"), Seq(col("ts"), col("event_id")), "value", maxLag = 5)

  /** #219 Good-Turing re-estimation over the 3-shingle frequency
   *  spectrum (the corpus's unigram vocabulary is tiny and closed, so
   *  shingles carry the singleton band): smoothed counts
   *  r* = (r+1)·N_{r+1}/N_r for r ≤ 10 and the N_1/N unseen mass. */
  private def q219GoodTuring(s: SparkSession, dir: String): DataFrame =
    Curation.goodTuring(
      t(s, dir).documents,
      graft.functions.TextFns.wordShingles(split(col("text"), " "), 3),
      maxR = 10L)

  /** #220 symmetric int8 embedding quantization: per-vector 127/max|x|
   *  scale, floor-shift rounding (engine-portable), max reconstruction
   *  error as the quality audit; the quantized vector serializes to a
   *  CSV string for the value compare (q127's array convention). */
  private def q220QuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(t(s, dir).embeddings, "vec_id", "embedding")
      .withColumn("q8", concat_ws(",", col("q8").cast("array<string>")))

  /** #221 class-balanced downsample: exactly min-class-count docs per
   *  source by the md5-jittered deterministic draw — the imbalance fix
   *  beside q211's weight quotas and q45's fixed fractions. */
  private def q221BalancedSample(s: SparkSession, dir: String): DataFrame =
    Features.balancedSample(
      t(s, dir).documents.select("source", "doc_id"), "source", "doc_id")

  /** #222 embedding-coherence audit: cosine of each vector to its
   *  label's mean-embedding centroid (q72 machinery) — mislabeled or
   *  corrupted vectors sit far below their class peers. */
  private def q222CentroidCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidCosine(t(s, dir).embeddings, "vec_id", "label", "embedding")

  /** #223 MinHash calibration: per q212 candidate pair, the signature
   *  Jaccard estimate (matching minhash fraction) vs the exact
   *  shingle-set Jaccard — how tight the sketch is at the threshold. */
  private def q223MinhashEstimate(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashEstimate(t(s, dir).documents, "doc_id", "text",
      numHashes = 6, bandSize = 2, shingleK = 3)

  /** #224 first principal component of the embedding cloud: 3 power
   *  iterations on the exact covariance, decimal-routed so each
   *  iterate is bit-identical by induction (the q209 contract) — the
   *  collapsed-representation audit and whitening primitive. */
  private def q224PcaPower(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaPower(t(s, dir).embeddings, "vec_id", "embedding", iters = 3)

  /** #225 template-phrase miner: 3-word shingles present in ≥ 1% of
   *  docs — the corpus-level boilerplate strip list q174's line twin
   *  and q61's per-row gates can't see. */
  private def q225TemplatePhrases(s: SparkSession, dir: String): DataFrame =
    Curation.templatePhrases(t(s, dir).documents, "doc_id", "text",
      k = 3, minFrac = 0.01)

  /** #226 projection onto q224's first PC: each vector's centered dot
   *  product with the dominant loading — the 1-D whitening coordinate
   *  and the axis drift checks should watch. */
  private def q226PcaProject(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaProject(t(s, dir).embeddings, "vec_id", "embedding", iters = 3)

  /** #227 stratified split with EXACT per-class proportions: rank by
   *  the md5 jitter within each source, cut at ⌊n·f⌋ — q103's global
   *  thresholds hold ratios only in expectation; minority classes
   *  need them exact. */
  private def q227StratifiedSplit(s: SparkSession, dir: String): DataFrame =
    Features.stratifiedSplit(
      t(s, dir).documents.select("source", "doc_id"), "source", "doc_id",
      trainFrac = 0.8, valFrac = 0.1)

  /** #228 exact k-means (Lloyd), k=4, 2 iterations, deterministic
   *  min-id seeding: decimal-routed distances, exact-decimal argmin
   *  with cid tiebreak, exact-decimal centroid means — the one Lloyd
   *  loop q43/q57's IVF quantizer also trains through, checked here
   *  by the oracle. */
  private def q228KmeansLloyd(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansLloyd(t(s, dir).embeddings, "vec_id", "embedding",
      k = 4, iters = 2)

  /** #229 cluster-quality rollup over q228: per cluster, member count
   *  and within-cluster SSE to the final exact-decimal centroid — the
   *  elbow/regression dial for a nightly clustering job. */
  private def q229KmeansQuality(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansQuality(t(s, dir).embeddings, "vec_id", "embedding",
      k = 4, iters = 2)

  /** #230 group-integrity k-fold assignment: fold = md5(group) mod 5
   *  with group = the exact-text fingerprint, so duplicate documents
   *  can never straddle folds — the constructor whose absence q200's
   *  leakage audit catches. */
  private def q230GroupKfold(s: SparkSession, dir: String): DataFrame =
    Features.groupKFold(
      t(s, dir).documents.select(col("doc_id"), md5(col("text")).as("grp")),
      "grp", k = 5)
      .select(col("doc_id"), col("fold"))

  /** #231 contamination forensics over q99's hits: first position and
   *  non-overlapping occurrence count per (doc, excerpt) — quoted
   *  snippet vs wholesale inclusion, once vs templated. */
  private def q231ContamSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).documents
    val excerpts = docs.filter(col("doc_id") % 97 === 0)
      .select(substring(col("text"), 10, 40).as("excerpt"))
      .filter(length(col("excerpt")) === 40).distinct()
    Curation.excerptSpans(docs, "doc_id", col("text"), excerpts, "excerpt")
  }

  /** #232 multinomial naive Bayes with add-1 smoothing: per-doc source
   *  attribution (train = predict corpus, the separability readout) —
   *  decimal-summed log scores, exact-decimal argmax (q210 rule). */
  private def q232NaiveBayes(s: SparkSession, dir: String): DataFrame =
    Curation.naiveBayesSource(t(s, dir).documents, "doc_id", "source", "text")

  /** #233 BM25 top-10 against the corpus's own top-3 tokens — the
   *  retrieval-ranking primitive one step past q70's raw TF-IDF;
   *  ranks on the exact decimal score, doc-id tiebreak. */
  private def q233Bm25(s: SparkSession, dir: String): DataFrame =
    Curation.bm25TopK(t(s, dir).documents, "doc_id", "text",
      nTerms = 3, k = 10)

  /** #234 nearest-centroid (Rocchio) classification: every vector vs
   *  EVERY class centroid, argmax cosine — the cheapest embedding
   *  classifier, the baseline under q167's k-NN. */
  private def q234NearestCentroid(s: SparkSession, dir: String): DataFrame =
    Similarity.nearestCentroid(t(s, dir).embeddings, "vec_id", "label", "embedding")

  /** #235 view→purchase conversion latency: exact first-step/next-step
   *  gaps per user, count + p50/p90 over the converted population —
   *  the how-long answer beside q108's how-many. */
  private def q235FunnelLatency(s: SparkSession, dir: String): DataFrame =
    Events.stepLatency(
      t(s, dir).events.withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us",
      col("event_type") === "view", col("event_type") === "purchase",
      Seq(0.5, 0.9))

  /** #236 Theil-Sen robust monthly revenue trend per market segment:
   *  the median of all pairwise slopes — the estimator one wild month
   *  can't drag, beside q191's least-squares line. */
  private def q236TheilSen(s: SparkSession, dir: String): DataFrame = {
    val tt = t(s, dir)
    val monthly = tt.orders
      .join(broadcast(tt.customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))), "o_custkey")
      .groupBy(col("c_mktsegment"), trunc(col("o_orderdate"), "mm").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("revenue"))
    Events.theilSen(monthly, Seq("c_mktsegment"),
      year(col("month")) * 12 + month(col("month")), "revenue")
  }

  private val logitFeatures = Seq(
    "x_qty" -> (col("l_quantity") / lit(50.0)),
    "x_disc" -> col("l_discount"))

  /** #237 logistic regression by 3 fixed batch-GD iterations on
   *  lineitem (return-flag propensity from quantity/discount):
   *  decimal-routed gradients, float-image sigmoids — weights replay
   *  bit-identically in the oracle's unrolled CTEs (q209/q224/q228
   *  contract). */
  private def q237LogisticGd(s: SparkSession, dir: String): DataFrame =
    Features.logisticGd(t(s, dir).lineitem, logitFeatures,
      col("l_returnflag") === "R", lr = 1.0, iters = 3)

  /** #238 q237's model evaluated on its training frame: exact-count
   *  accuracy at 0.5 and decimal-summed mean log-loss. */
  private def q238LogisticEval(s: SparkSession, dir: String): DataFrame =
    Features.logisticEval(t(s, dir).lineitem, logitFeatures,
      col("l_returnflag") === "R", lr = 1.0, iters = 3)

  /** #239 vocabulary-coverage quantile per source: distinct tokens
   *  (most-frequent-first) needed to cover 90% of occurrences — the
   *  concentration dial beside q204's entropy; all-integer test. */
  private def q239VocabCoverage(s: SparkSession, dir: String): DataFrame =
    Curation.vocabCoverage(t(s, dir).documents, "source", "text", pct = 90)

  /** #240 inter-arrival gap percentiles per event type (p50/p90 of
   *  consecutive-event µs gaps, (ts, event_id) order) — the stream
   *  burstiness dial beside q194's value-autocorrelation. */
  private def q240InterArrival(s: SparkSession, dir: String): DataFrame =
    Events.interArrival(
      t(s, dir).events.filter(col("ts").isNotNull) // NULL order differs across engines (q194)
        .withColumn("ts_us", unix_micros(col("ts"))),
      Seq("event_type"), "ts_us", Seq("event_id"), Seq(0.5, 0.9))

  /** #241 SimHash banding under the md5 hash-trust contract (q212's
   *  upgrade applied to q30's family): 60-bit md5-vote signatures,
   *  4×15-bit chunk blocking, Hamming-verified pairs — every number
   *  externally replayable. */
  private def q241SimhashMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashMd5(t(s, dir).documents, "doc_id", "text")

  /** #242 hyperplane-LSH banding under the md5 hash-trust contract
   *  (q212's upgrade applied to q33/q34's family): md5-parity
   *  Rademacher planes, decimal-exact dot signs, 2×8-bit bucket
   *  tables, OR-amplified candidate pairs. */
  private def q242HyperplaneMd5(s: SparkSession, dir: String): DataFrame =
    Similarity.hyperplaneMd5Pairs(t(s, dir).embeddings, "vec_id", "embedding",
      bits = 8, tables = 2)

  /** The per-doc ISO-BMFF payload builder shared by q243/q244: planted
   *  brand/timescale/duration/track-count, variable box offsets. */
  private def mp4Payload: Column = {
    val id = col("doc_id")
    def be32(c: Column) = unhex(lpad(hex(c), 8, "0"))
    def be64(c: Column) = unhex(lpad(hex(c), 16, "0"))
    def be32h(v: Long) = f"$v%08X"
    val v = id % 2
    val nT = (id % 3 + 1).cast("int")
    val ts = (lit(600) + id % 1000).cast("int")
    // bounded into u32 by construction: be32's lpad would silently
    // TRUNCATE a 9th hex digit, so the v0 rows would plant a duration
    // the oracle doesn't state once n_chars * 1000 crosses 2^32
    val dur = ((col("n_chars") % 4000000) * 1000).cast("long")
    val brandH = when(id % 3 === 0, "69736F6D") // "isom"
      .when(id % 3 === 1, "6D703432") // "mp42"
      .otherwise("61766331") // "avc1"
    val ftyp = concat(
      unhex(lit("00000014" + "66747970")), // size 20 + "ftyp"
      unhex(brandH),
      unhex(lit("00000000" + "69736F6D"))) // minor version + compat "isom"
    val pad = (id % 7).cast("int")
    val free = concat(
      be32(pad + 8), unhex(lit("66726565")), // "free", body 0..6 bytes
      unhex(lit("414141414141").substr(lit(1), pad * 2)))
    val matrixH = "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 +
      "40000000" // the unity transform every real muxer writes
    // mvhd tail after duration: rate 1.0, volume 1.0, 10 reserved
    // bytes, matrix, 24 predefined bytes — next_track_id appended as a
    // column (trak count + 1, as a muxer would)
    val mvhdRestH = "00010000" + "0100" + "00" * 10 + matrixH + "00" * 24
    val mvhd0 = concat(
      unhex(lit("0000006C" + "6D766864" + "00000000")), // size 108, v0
      be32(lit(0)), be32(lit(0)), be32(ts), be32(dur),
      unhex(lit(mvhdRestH)), be32(nT + 1))
    val mvhd1 = concat(
      unhex(lit("00000078" + "6D766864" + "01000000")), // size 120, v1
      be64(lit(0)), be64(lit(0)), be32(ts), be64(dur),
      unhex(lit(mvhdRestH)), be32(nT + 1))
    // a full 92-byte tkhd (enabled|in_movie|in_preview flags, zeroed
    // times/dims) inside each trak — literal per track id
    def trakH(tid: Int) = be32h(100) + "7472616B" + be32h(92) + "746B6864" +
      "00000007" + be32h(0) + be32h(0) + be32h(tid) + be32h(0) + be32h(0) +
      "00" * 8 + "0000" * 4 + matrixH + be32h(0) + be32h(0)
    val traks = concat((1 to 3).map(t =>
      when(nT >= t, unhex(lit(trakH(t)))).otherwise(unhex(lit("")))): _*)
    val moovSize = lit(8) + when(v === 0, 108).otherwise(120) + nT * 100
    val moov = concat(be32(moovSize), unhex(lit("6D6F6F76")),
      when(v === 0, mvhd0).otherwise(mvhd1), traks)
    concat(ftyp, free, moov)
  }

  /** #243 video container metadata, construct-then-parse (q129/q152's
   *  video sibling, completing the multimodal trio): per-doc payloads
   *  are built NATIVELY as real ISO-BMFF box sequences — ftyp, a
   *  variable-length `free` box (so moov sits at a different offset
   *  per row and the box walk is genuinely exercised), and a moov
   *  whose mvhd alternates version 0 (u32 fields) and version 1 (u64
   *  fields) and whose trak children vary 1..3 — then the codegen
   *  [[graft.plans.VideoMeta]] expression parses brand, timescale,
   *  duration, and track count BACK from the bytes. The oracle states
   *  the planted values; construction (hex/unhex literals, in
   *  [[mp4Payload]]) and parsing (byte walk) share no code. Zero
   *  shuffle, pure projection. */
  private def q243VideoMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir).documents
    val id = col("doc_id")
    val meta = Multimodal.videoMeta(s, mp4Payload)
    d.select(id,
      meta.getField("format").as("format"),
      meta.getField("brand").as("brand"),
      meta.getField("timescale").as("timescale"),
      meta.getField("duration").as("duration"),
      meta.getField("n_tracks").as("n_tracks"))
  }

  /** #244 frame-sampling plan over the q243 payloads: one row per
   *  sample instant — every second of PARSED media time (mvhd
   *  duration/timescale through the box walk), capped at 12 frames —
   *  the Spark-side plumbing of a frame-extraction pipeline with the
   *  pixel decode stubbed (SURVEY §2.2 multimodal contract). Exact
   *  integer floor arithmetic; bounded explode; zero shuffle. */
  private def q244FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSampleInstants(s,
      t(s, dir).documents.withColumn("__gpayload", mp4Payload),
      "doc_id", "__gpayload", strideMs = 1000L, maxFrames = 12)

  /** #245 q166's rank family over a TYING value: lineitem quantity
   *  within return flag (50 distinct quantities per flag at sf0.01, a
   *  ~400× shrink), so above the gate the ranks come from the distinct
   *  (flag, quantity) frame and its null-safe map-back
   *  ([[graft.operators.RangeRank.tieRank]]). */
  private def q245RankFamilyTies(s: SparkSession, dir: String): DataFrame =
    Relational.rankFamily(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber",
        "l_returnflag", "l_quantity"),
      "l_quantity", Seq("l_returnflag"))

  /** #246 q145's percent-rank transform over the same tying quantity
   *  as #245 — the value-aggregated plan's second consumer. */
  private def q246PercentRankTies(s: SparkSession, dir: String): DataFrame =
    Features.percentRankScale(
      t(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity"),
      "l_quantity", Seq("l_returnflag"))

  // ------------------------------------------------------------ registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_group_agg"         -> (q01GroupAgg _),
    "q02_merge_right_dedup" -> (q02MergeRightDedup _),
    "q03_project_filter"    -> (q03ProjectFilter _),
    "q04_impute_median"     -> (q04ImputeMedian _),
    "q05_fill_sentinel"     -> (q05FillSentinel _),
    "q06_domain_validation" -> (q06DomainValidation _),
    "q07_invariant_filter"  -> (q07InvariantFilter _),
    "q08_dateparts"         -> (q08DateParts _),
    "q09_phase_bucketing"   -> (q09PhaseBucketing _),
    "q10_holiday_flag"      -> (q10HolidayFlag _),
    "q11_value_map"         -> (q11ValueMap _),
    "q12_multiflag_split"   -> (q12MultiflagSplit _),
    "q13_string_ops"        -> (q13StringOps _),
    "q14_union_slices"      -> (q14UnionSlices _),
    "q15_dim_build"         -> (q15DimBuild _),
    "q16_fact_build"        -> (q16FactBuild _),
    "q17_fact_dedup"        -> (q17FactDedup _),
    "q18_topk"              -> (q18TopK _),
    "q19_window_funcs"      -> (q19WindowFuncs _),
    "q20_pivot"             -> (q20Pivot _),
    "q21_anti_semi_join"    -> (q21AntiSemiJoin _),
    "q22_star_join_agg"     -> (q22StarJoinAgg _),
    "q23_time_bucket_agg"   -> (q23TimeBucketAgg _),
    "q24_json_extract"      -> (q24JsonExtract _),
    "q25_dedup_exact"       -> (q25DedupExact _),
    "q26_text_stats"        -> (q26TextStats _),
    "q27_lang_id"           -> (q27LangId _),
    "q28_fingerprint"       -> (q28Fingerprint _),
    "q29_minhash_lsh"       -> (q29MinhashLsh _),
    "q30_simhash"           -> (q30Simhash _),
    "q31_ngram_jaccard"     -> (q31NgramJaccard _),
    "q32_ann_bruteforce"    -> (q32AnnBruteforce _),
    "q33_ann_lsh"           -> (q33AnnLsh _),
    "q34_embedding_dedup"   -> (q34EmbeddingDedup _),
    "q35_multimodal_meta"   -> (q35MultimodalMeta _),
    "q36_rollup_agg"        -> (q36RollupAgg _),
    "q37_sessionize_batch"  -> (q37SessionizeBatch _),
    "q38_asof_join"         -> (q38AsofJoin _),
    "q39_distinct_count"    -> (q39DistinctCount _),
    "q40_quantiles"         -> (q40Quantiles _),
    "q41_corr_stats"        -> (q41CorrStats _),
    "q42_regex_extract"     -> (q42RegexExtract _),
    "q43_ann_ivf"           -> (q43AnnIvf _),
    "q44_null_profile"      -> (q44NullProfile _),
    "q45_stratified_sample" -> (q45StratifiedSample _),
    "q46_idempotent_load"   -> (q46IdempotentLoad _),
    "q47_cube_agg"          -> (q47CubeAgg _),
    "q48_quantiles_approx"  -> (q48QuantilesApprox _),
    "q49_distinct_hll"      -> (q49DistinctHll _),
    "q50_brand_model_split" -> (q50BrandModelSplit _),
    "q51_dim_dense_key"     -> (q51DimDenseKey _),
    "q52_token_count"       -> (q52TokenCount _),
    "q53_dim_dense_scalable" -> (q53DimDenseScalable _),
    "q54_winnow_overlap"    -> (q54WinnowOverlap _),
    "q55_curation_pipeline" -> (q55CurationPipeline _),
    "q56_range_join"        -> (q56RangeJoin _),
    "q57_ann_ivf_index"     -> (q57AnnIvfIndex _),
    "q58_scd2_merge"        -> (q58Scd2Merge _),
    "q59_dedup_clusters"    -> (q59DedupClusters _),
    "q60_decontaminate"     -> (q60Decontaminate _),
    "q61_quality_rules"     -> (q61QualityRules _),
    "q62_cc_labels"         -> (q62CcLabels _),
    "q63_salted_agg"        -> (q63SaltedAgg _),
    "q64_salted_join"       -> (q64SaltedJoin _),
    "q65_bucketed_join"     -> (q65BucketedJoin _),
    "q66_parse_validated"   -> (q66ParseValidated _),
    "q67_locale_normalize"  -> (q67LocaleNormalize _),
    "q68_pii_redact"        -> (q68PiiRedact _),
    "q69_c4_line_filter"    -> (q69C4LineFilter _),
    "q70_tfidf_topterms"    -> (q70TfidfTopTerms _),
    "q71_global_line_dedup" -> (q71GlobalLineDedup _),
    "q72_mean_embedding"    -> (q72MeanEmbedding _),
    "q73_semantic_dedup"    -> (q73SemanticDedup _),
    "q74_winsorize"         -> (q74Winsorize _),
    "q75_zscore"            -> (q75Zscore _),
    "q76_minmax_scale"      -> (q76MinmaxScale _),
    "q77_sequence_pack"     -> (q77SequencePack _),
    "q78_mixture_sample"    -> (q78MixtureSample _),
    "q79_quantile_bins"     -> (q79QuantileBins _),
    "q80_moving_avg"        -> (q80MovingAvg _),
    "q81_histogram"         -> (q81Histogram _),
    "q82_gap_fill"          -> (q82GapFill _),
    "q83_cdc_apply"         -> (q83CdcApply _),
    "q84_fuzzy_match"       -> (q84FuzzyMatch _),
    "q85_hll_rollup"        -> (q85HllRollup _),
    "q86_k_anonymity"       -> (q86KAnonymity _),
    "q87_text_normalize"    -> (q87TextNormalize _),
    "q88_incremental_agg"   -> (q88IncrementalAgg _),
    "q89_group_topk"        -> (q89GroupTopk _),
    "q90_snapshot_diff"     -> (q90SnapshotDiff _),
    "q91_heavy_hitters"     -> (q91HeavyHitters _),
    "q92_unpivot"           -> (q92Unpivot _),
    "q93_key_deltas"        -> (q93KeyDeltas _),
    "q94_cohort_retention"  -> (q94CohortRetention _),
    "q95_group_histogram"   -> (q95GroupHistogram _),
    "q96_impute_multi"      -> (q96ImputeMultiMedian _),
    "q97_blocklist_curation" -> (q97BlocklistCuration _),
    "q98_fuzzy_clusters"    -> (q98FuzzyClusters _),
    "q99_decontam_exact"    -> (q99DecontamExact _),
    "q100_distinct_rollup"  -> (q100DistinctRollup _),
    "q101_chunk_docs"       -> (q101ChunkDocs _),
    "q102_group_sample"     -> (q102GroupSample _),
    "q103_hash_split"       -> (q103HashSplit _),
    "q104_corr_matrix"      -> (q104CorrMatrix _),
    "q105_intradoc_dedup"   -> (q105IntradocDedup _),
    "q106_grouping_sets"    -> (q106GroupingSets _),
    "q107_interval_merge"   -> (q107IntervalMerge _),
    "q108_funnel"           -> (q108Funnel _),
    "q109_mad_outliers"     -> (q109MadOutliers _),
    "q110_streaks"          -> (q110Streaks _),
    "q111_jaro_linkage"     -> (q111JaroLinkage _),
    "q112_ewma"             -> (q112Ewma _),
    "q113_rolling_anomaly"  -> (q113RollingAnomaly _),
    "q114_transitions"      -> (q114Transitions _),
    "q115_abc_parts"        -> (q115AbcParts _),
    "q116_shape_stats"      -> (q116ShapeStats _),
    "q117_rfm_scores"       -> (q117RfmScores _),
    "q118_token_df"         -> (q118TokenDf _),
    "q119_ordered_concat"   -> (q119OrderedConcat _),
    "q120_fk_orphans"       -> (q120FkOrphans _),
    "q121_pct_change"       -> (q121PctChange _),
    "q122_dow_seasonality"  -> (q122DowSeasonality _),
    "q123_ngram_containment" -> (q123NgramContainment _),
    "q124_readability"      -> (q124Readability _),
    "q125_lag_features"     -> (q125LagFeatures _),
    "q126_target_encode"    -> (q126TargetEncode _),
    "q127_session_paths"    -> (q127SessionPaths _),
    "q128_strip_accents"    -> (q128StripAccents _),
    "q129_image_meta"       -> (q129ImageMeta _),
    "q130_linreg_trend"     -> (q130LinregTrend _),
    "q131_ks_drift"         -> (q131KsDrift _),
    "q132_benford"          -> (q132Benford _),
    "q133_seq_gaps"         -> (q133SeqGaps _),
    "q134_robust_scale"     -> (q134RobustScale _),
    "q135_ssjoin_prefix"    -> (q135SsjoinPrefix _),
    "q136_chi2_cells"       -> (q136Chi2Cells _),
    "q137_twap"             -> (q137Twap _),
    "q138_rolling_dau"      -> (q138RollingDau _),
    "q139_snm_pairs"        -> (q139SnmPairs _),
    "q140_ssjoin_clusters"  -> (q140SsjoinClusters _),
    "q141_cumulative_distinct" -> (q141CumulativeDistinct _),
    "q142_ab_lift"          -> (q142AbLift _),
    "q143_bigram_lm"        -> (q143BigramLm _),
    "q144_attribution"      -> (q144Attribution _),
    "q145_percent_rank"     -> (q145PercentRank _),
    "q146_degree_stats"     -> (q146DegreeStats _),
    "q147_hist2d"           -> (q147Hist2d _),
    "q148_copurchase"       -> (q148Copurchase _),
    "q149_skyline"          -> (q149Skyline _),
    "q150_weighted_median"  -> (q150WeightedMedian _),
    "q151_triangles"        -> (q151Triangles _),
    "q152_audio_meta"       -> (q152AudioMeta _),
    "q153_url_canon"        -> (q153UrlCanon _),
    "q154_ntile"            -> (q154Ntile _),
    "q155_lm_score"         -> (q155LmScore _),
    "q156_locf"             -> (q156Locf _),
    "q157_source_keywords"  -> (q157SourceKeywords _),
    "q158_l_diversity"      -> (q158LDiversity _),
    "q159_cusum"            -> (q159Cusum _),
    "q160_trimmed_mean"     -> (q160TrimmedMean _),
    "q161_gini"             -> (q161Gini _),
    "q162_hhi"              -> (q162Hhi _),
    "q163_full_prep"        -> (q163FullPrep _),
    "q164_contribution"     -> (q164Contribution _),
    "q165_rolling_quantile" -> (q165RollingQuantile _),
    "q166_rank_family"      -> (q166RankFamily _),
    "q167_knn_label"        -> (q167KnnLabel _),
    "q168_embedding_audit"  -> (q168EmbeddingAudit _),
    "q169_decile_lift"      -> (q169DecileLift _),
    "q170_rrf_fusion"       -> (q170RrfFusion _),
    "q171_knn_confusion"    -> (q171KnnConfusion _),
    "q172_cohens_kappa"     -> (q172CohensKappa _),
    "q173_source_overlap"   -> (q173SourceOverlap _),
    "q174_boilerplate_strip" -> (q174BoilerplateStrip _),
    "q175_feature_hashing"  -> (q175FeatureHashing _),
    "q176_dedup_impact"     -> (q176DedupImpact _),
    "q177_auc_exact"        -> (q177AucExact _),
    "q178_spearman"         -> (q178Spearman _),
    "q179_ks_test"          -> (q179KsTest _),
    "q180_mix_weights"      -> (q180MixWeights _),
    "q181_incremental_dedup" -> (q181IncrementalDedup _),
    "q182_calibration"      -> (q182Calibration _),
    "q183_vocab_growth"     -> (q183VocabGrowth _),
    "q184_unique_words"     -> (q184UniqueWords _),
    "q185_token_budget"     -> (q185TokenBudget _),
    "q186_quality_report"   -> (q186QualityReport _),
    "q187_threshold_sweep"  -> (q187ThresholdSweep _),
    "q188_cluster_sizes"    -> (q188ClusterSizes _),
    "q189_fd_audit"         -> (q189FdAudit _),
    "q190_changepoint"      -> (q190Changepoint _),
    "q191_trend"            -> (q191Trend _),
    "q192_golden_record"    -> (q192GoldenRecord _),
    "q193_pct_normalize"    -> (q193PctNormalize _),
    "q194_autocorr"         -> (q194Autocorr _),
    "q195_topk_overlap"     -> (q195TopkOverlap _),
    "q196_pii_density"      -> (q196PiiDensity _),
    "q197_mrr"              -> (q197Mrr _),
    "q198_freq_spectrum"    -> (q198FreqSpectrum _),
    "q199_welch_t"          -> (q199WelchT _),
    "q200_split_leakage"    -> (q200SplitLeakage _),
    "q201_psi"              -> (q201Psi _),
    "q202_cramers_v"        -> (q202CramersV _),
    "q203_pmi"              -> (q203Pmi _),
    "q204_source_entropy"   -> (q204SourceEntropy _),
    "q205_ndcg"             -> (q205Ndcg _),
    "q206_km_survival"      -> (q206KmSurvival _),
    "q207_burstiness"       -> (q207Burstiness _),
    "q208_mutual_info"      -> (q208MutualInfo _),
    "q209_pagerank"         -> (q209PageRank _),
    "q210_label_prop"       -> (q210LabelProp _),
    "q211_weighted_sample"  -> (q211WeightedSample _),
    "q212_minhash_md5"      -> (q212MinhashMd5 _),
    "q213_js_divergence"    -> (q213JsDivergence _),
    "q214_zipf_slope"       -> (q214ZipfSlope _),
    "q215_macro_f1"         -> (q215MacroF1 _),
    "q216_assoc_rules"      -> (q216AssocRules _),
    "q217_shingle_novelty"  -> (q217ShingleNovelty _),
    "q218_acf_multi"        -> (q218AcfMulti _),
    "q219_good_turing"      -> (q219GoodTuring _),
    "q220_quantize_int8"    -> (q220QuantizeInt8 _),
    "q221_balanced_sample"  -> (q221BalancedSample _),
    "q222_centroid_cosine"  -> (q222CentroidCosine _),
    "q223_minhash_estimate" -> (q223MinhashEstimate _),
    "q224_pca_power"        -> (q224PcaPower _),
    "q225_template_phrases" -> (q225TemplatePhrases _),
    "q226_pca_project"      -> (q226PcaProject _),
    "q227_stratified_split" -> (q227StratifiedSplit _),
    "q228_kmeans_lloyd"     -> (q228KmeansLloyd _),
    "q229_kmeans_quality"   -> (q229KmeansQuality _),
    "q230_group_kfold"      -> (q230GroupKfold _),
    "q231_contam_spans"     -> (q231ContamSpans _),
    "q232_naive_bayes"      -> (q232NaiveBayes _),
    "q233_bm25"             -> (q233Bm25 _),
    "q234_nearest_centroid" -> (q234NearestCentroid _),
    "q235_funnel_latency"   -> (q235FunnelLatency _),
    "q236_theil_sen"        -> (q236TheilSen _),
    "q237_logistic_gd"      -> (q237LogisticGd _),
    "q238_logistic_eval"    -> (q238LogisticEval _),
    "q239_vocab_coverage"   -> (q239VocabCoverage _),
    "q240_interarrival"     -> (q240InterArrival _),
    "q241_simhash_md5"      -> (q241SimhashMd5 _),
    "q242_hyperplane_md5"   -> (q242HyperplaneMd5 _),
    "q243_video_meta"       -> (q243VideoMeta _),
    "q244_frame_sample"     -> (q244FrameSample _),
    "q245_rank_family_ties" -> (q245RankFamilyTies _),
    "q246_percent_rank_ties" -> (q246PercentRankTies _),
  )

  /** Shared-stage variants of the trained-model pairs: each entry
   *  trains ONCE via the library's weights/assignments/loadings
   *  overloads and returns BOTH consumers' frames, where the solo
   *  `queries` entries (kept as the oracle-checkable forms) each pay
   *  the full training pass. Bench times these as one unit — the
   *  `shared` column next to the solo pair-sum is the cost drop a
   *  production pipeline keeps by reusing the trained frame. */
  def sharedPairs: Map[String, (SparkSession, String) => Seq[DataFrame]] = Map(
    "q224+q226" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      val load = Similarity.pcaPower(emb, "vec_id", "embedding", iters = 3)
      Seq(load,
        Similarity.pcaProject(emb, "vec_id", "embedding",
          load.select(col("pos"), col("loading"))))
    }),
    "q228+q229" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      val assigned = Similarity.kmeansLloyd(emb, "vec_id", "embedding",
        k = 4, iters = 2)
      Seq(assigned,
        Similarity.kmeansQuality(emb, "vec_id", "embedding", assigned))
    }),
    "q237+q238" -> ((s, dir) => {
      val li = t(s, dir).lineitem
      val isR = col("l_returnflag") === "R"
      val wdf = Features.logisticWeights(li, logitFeatures, isR,
        lr = 1.0, iters = 3)
      Seq(Features.logisticGd(wdf, logitFeatures.map(_._1)),
        Features.logisticEval(li, logitFeatures, isR, wdf))
    }),
    // the SSJoin family: ONE shingles→prefix→candidates→verify pass
    // (and ONE cluster resolution) feeds all six readouts, where the
    // solo entries each rebuild the pair set from scratch. Outputs are
    // identical to the solo forms: q187's sweep thresholds (0.7/0.8/
    // 0.9) all sit above the shared 1/2 cutoff, so sweeping the 1/2
    // pair set filters to exactly the pairs its solo 7/10 pass emits.
    "q135+q140+q146+q151+q187+q188" -> ((s, dir) => {
      // fail fast (round-9 advice): the shared/solo q187 equivalence
      // holds ONLY while every sweep threshold sits at or above the
      // shared pass's num/den cutoff — a later threshold below 1/2
      // would silently diverge from the solo pass until SharedPairsSpec
      // caught it at test time
      val (num, den) = (1, 2)
      val sweepThresholds = Seq(0.7, 0.8, 0.9)
      require(sweepThresholds.forall(_ >= num.toDouble / den),
        s"shared SSJoin sweep thresholds $sweepThresholds must all be >= $num/$den")
      val pairs = Dedup.setSimilarityJoin(t(s, dir).documents, "doc_id",
          TextFns.wordShingles(s, col("text"), 3), num = num, den = den,
          cacheSets = true)
        .transform(Caches.persist)
      val clusters = Caches.persist(Dedup.dedupClusters(pairs))
      Seq(
        pairs,                                                        // q135
        clusters,                                                     // q140
        Dedup.degreeDistribution(pairs),                              // q146
        Dedup.triangles(pairs),                                       // q151
        Dedup.thresholdSweep(pairs, "jaccard", sweepThresholds),      // q187
        Dedup.clusterSizeHistogram(clusters))                         // q188
    }),
  )

  private val monthCaseSql: String =
    "CASE month(o_orderdate) WHEN 1 THEN 'Janeiro' WHEN 2 THEN 'Fevereiro' WHEN 3 THEN 'Março'" +
      " WHEN 4 THEN 'Abril' WHEN 5 THEN 'Maio' WHEN 6 THEN 'Junho' WHEN 7 THEN 'Julho'" +
      " WHEN 8 THEN 'Agosto' WHEN 9 THEN 'Setembro' WHEN 10 THEN 'Outubro'" +
      " WHEN 11 THEN 'Novembro' ELSE 'Dezembro' END"

  private val holidayInListSql: String =
    holidayDates.map(d => s"DATE '$d'").mkString("(", ", ", ")")

  private val enStopSql: String =
    enStop.map(w => s"'$w'").mkString("(", ",", ")")

  /** q55's curation oracle, parameterized by the source-gate predicate
   *  (q97 = the same pipeline behind a blocklist WHERE clause). */
  private def curationOracleSql(srcWhere: String): String =
    "WITH s AS (SELECT doc_id, text, n_chars, " +
      "len(string_split(text, ' ')) AS n_tokens, " +
      s"len(list_filter(string_split(text, ' '), t -> t IN $enStopSql)) AS en, " +
      "len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','los','es'))) AS es, " +
      "len(list_filter(string_split(text, ' '), t -> t IN ('o','os','um','uma','não'))) AS pt " +
      s"FROM documents$srcWhere), " +
      "q AS (SELECT doc_id, text, " +
      "CASE WHEN en >= es AND en >= pt AND en > 0 THEN 'en' " +
      "WHEN es >= pt AND es > 0 THEN 'es' WHEN pt > 0 THEN 'pt' ELSE 'und' END AS lang, " +
      "0.5::DOUBLE * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) " +
      "+ 0.3::DOUBLE * (CAST(en AS DOUBLE) / greatest(n_tokens, 1)) " +
      "+ 0.2::DOUBLE * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS quality FROM s) " +
      "SELECT doc_id, lang, quality FROM (" +
      "SELECT doc_id, lang, quality, " +
      "ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
      "FROM q WHERE lang = 'en' AND quality >= 0.35) WHERE rn = 1"

  /**
   * DuckDB fragment mirroring [[StarSchema.dimWithHashKey]]'s null-flag
   * component encoding: chr(2)/chr(3) null marker + null-coalesced value.
   */
  private def nkSql(c: String): String =
    s"(CASE WHEN $c IS NULL THEN chr(2) ELSE chr(3) END || coalesce($c, ''))"

  /** Shared DuckDB CTE prefix for the q135/q140 family: document
   *  3-word-shingle sets (mirroring [[TextFns.wordShingles]]' <k-token
   *  whole-text fallback) and the qualifying-pair frame `p`.
   *
   *  `p` is NOT the all-pairs `t a JOIN t b ON a.id < b.id` cross form;
   *  two identity-preserving algebraic restrictions make the oracle
   *  runnable on the template corpus (whose hottest shingles are shared
   *  by most documents):
   *
   *  1. Candidates come from the shared-shingle equi-join, and the
   *     intersection size `i` is that join's per-pair COUNT — exact
   *     because `tok` is list_distinct, so each shared shingle
   *     contributes exactly one joined row; `u` follows from the two
   *     (per-id-constant) list lengths. This replaces the earlier
   *     DISTINCT-candidates + per-pair list_intersect sweep, whose
   *     per-candidate full-list intersections dominated (the measured
   *     sf0.1 600 s+ family timeouts).
   *  2. A Jaccard-1/2 size filter in the join condition
   *     (2·min(|A|,|B|) >= max(|A|,|B|)): J >= 1/2 forces
   *     i >= (|A|+|B|)/3 and i <= min, hence max <= 2·min. Every
   *     consumer filters p at `i·den >= u·num` with num/den >= 1/2
   *     (q135/q140/q146/q151/q188 at 1/2, q187 at 7/10), so no
   *     qualifying pair is dropped; a pair sharing zero shingles can
   *     never qualify (u >= 1 always).
   *
   *  Both are provable rewrites of the same semantics, NOT the
   *  engine's prefix-filter strategy (which prunes by sorted-prefix
   *  overlap and is exactly what the oracle checks for false
   *  negatives).
   */
  private val ssjoinDocShinglesSql: String =
    "WITH RECURSIVE t AS (SELECT doc_id AS id, " +
      "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
      "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
      "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
      "ELSE [array_to_string(w, ' ')] END AS tok " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
      "sse AS (SELECT id, len(tok) AS n, unnest(tok) AS g FROM t), " +
      "p AS (SELECT ea.id AS id_a, eb.id AS id_b, COUNT(*) AS i, " +
      "MIN(ea.n) + MIN(eb.n) - COUNT(*) AS u " +
      "FROM sse ea JOIN sse eb ON ea.g = eb.g AND ea.id < eb.id " +
      "AND 2 * least(ea.n, eb.n) >= greatest(ea.n, eb.n) " +
      "GROUP BY ea.id, eb.id) "

  /** DuckDB CASE mapping each leading digit to the driver's Benford
   *  expected-share double, through the VARCHAR-literal detour so the
   *  parse is correctly rounded (q132). */
  private def benfordCaseSql: String =
    "CASE digit " + Cleaning.benfordShares.zipWithIndex.map { case (s, i) =>
      s"WHEN '${i + 1}' THEN CAST('$s' AS DOUBLE)" }.mkString(" ") + " END"

  /** Unrolled power-iteration SQL for q224's first principal component:
   *  exact-decimal means (q72), float-absorbed + DECIMAL(28,18)-summed
   *  cross-moments, matvecs and norms (q197 contract), one guarded
   *  division per position per iteration — mirroring
   *  [[graft.operators.Similarity.pcaPower]]'s fixed IEEE sequence
   *  term for term so each iterate matches by induction (the q209
   *  argument). */
  /** Unrolled Lloyd-iteration SQL for q228, mirroring
   *  [[graft.operators.Similarity.kmeansLloyd]] term for term:
   *  decimal-routed squared distances, exact-decimal argmin with the
   *  cid tiebreak, q72-recipe centroid means — bit-identical
   *  assignments by induction (the q209/q224 argument). */
  /** Unrolled batch-GD CTEs for q237/q238, mirroring
   *  [[graft.operators.Features.logisticWeights]] term for term:
   *  float-image sigmoids, float-absorbed + DECIMAL(28,18)-summed
   *  gradient terms, string-detoured means, fixed IEEE updates —
   *  weight vectors identical by induction. Exposes `d` (the feature
   *  frame) and `w{iters}` (the trained weights). */
  private def logisticCtes(iters: Int): String = {
    def absorb(e: String) =
      s"CAST(CAST(CAST(CAST($e AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))"
    def sig(w: String) =
      s"CAST(CAST(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + " +
        s"exp(-($w.w0 + $w.w1 * d.x1 + $w.w2 * d.x2))) AS REAL) AS DOUBLE)"
    val head =
      "WITH d AS (SELECT l_quantity / CAST(50 AS DOUBLE) AS x1, " +
        "l_discount AS x2, " +
        "CASE WHEN l_returnflag = 'R' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y " +
        "FROM lineitem), " +
        "w0t AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1, " +
        "CAST(0 AS DOUBLE) AS w2), "
    val iterCtes = (1 to iters).map { t =>
      val w = if (t == 1) "w0t" else s"w${t - 1}t"
      val s = sig(w)
      val gs = Seq("CAST(1 AS DOUBLE)", "d.x1", "d.x2").zipWithIndex.map {
        case (xj, j) =>
          s"CAST(CAST(SUM(${absorb(s"($s - d.y) * $xj")}) AS VARCHAR) AS DOUBLE) / " +
            s"CAST(COUNT(*) AS DOUBLE) AS g$j"
      }.mkString(", ")
      s"g$t AS (SELECT $gs FROM d CROSS JOIN $w), " +
        s"w${t}t AS (SELECT w.w0 - CAST(1 AS DOUBLE) * g.g0 AS w0, " +
        s"w.w1 - CAST(1 AS DOUBLE) * g.g1 AS w1, " +
        s"w.w2 - CAST(1 AS DOUBLE) * g.g2 AS w2 FROM $w w, g$t g)"
    }.mkString(", ")
    head + iterCtes + " "
  }

  private def kmeansCtes(k: Int, iters: Int): String = {
    def absorb(e: String) =
      s"CAST(CAST(CAST(CAST($e AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))"
    val head =
      "WITH x AS (SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings), " +
        "s AS (SELECT sid, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS INT) AS cid FROM (" +
        s"SELECT vec_id AS sid FROM embeddings ORDER BY vec_id LIMIT $k)), " +
        "c0 AS (SELECT s.cid, x.pos, CAST(x.v AS DOUBLE) AS c " +
        "FROM x JOIN s ON x.vec_id = s.sid), "
    val iterCtes = (1 to iters).map { t =>
      s"d$t AS (SELECT x.vec_id, c.cid, " +
        s"SUM(${absorb("(CAST(x.v AS DOUBLE) - c.c) * (CAST(x.v AS DOUBLE) - c.c)")}) AS dist " +
        s"FROM x JOIN c${t - 1} c ON x.pos = c.pos GROUP BY 1, 2), " +
        s"a$t AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk " +
        s"FROM d$t) WHERE rk = 1)" +
        (if (t < iters)
          s", c$t AS (SELECT a.cid, x.pos, " +
            "CAST(CAST(SUM(CAST(CAST(x.v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
            s"/ COUNT(*) AS c FROM a$t a JOIN x ON x.vec_id = a.vec_id GROUP BY 1, 2)"
        else "")
    }.mkString(", ")
    head + iterCtes
  }

  private def kmeansSql(k: Int, iters: Int): String =
    kmeansCtes(k, iters) + s" SELECT vec_id, cid AS cluster FROM a$iters"

  /** q229: [[kmeansSql]]'s CTEs + final exact-decimal centroids +
   *  per-member decimal distances rolled up to per-cluster SSE. */
  private def kmeansQualitySql(k: Int, iters: Int): String = {
    def absorb(e: String) =
      s"CAST(CAST(CAST(CAST($e AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))"
    kmeansCtes(k, iters) +
      s", cf AS (SELECT a.cid, x.pos, " +
      "CAST(CAST(SUM(CAST(CAST(x.v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
      s"/ COUNT(*) AS c FROM a$iters a JOIN x ON x.vec_id = a.vec_id GROUP BY 1, 2), " +
      s"pv AS (SELECT x.vec_id, a.cid, " +
      s"SUM(${absorb("(CAST(x.v AS DOUBLE) - cf.c) * (CAST(x.v AS DOUBLE) - cf.c)")}) AS d " +
      s"FROM a$iters a JOIN x ON x.vec_id = a.vec_id " +
      "JOIN cf ON cf.cid = a.cid AND cf.pos = x.pos GROUP BY 1, 2) " +
      "SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(CAST(SUM(d) AS VARCHAR) AS DOUBLE) AS sse FROM pv GROUP BY 1"
  }

  private def pcaPowerCtes(iters: Int): String = {
    def absorb(e: String) =
      s"CAST(CAST(CAST(CAST($e AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))"
    val head =
      "WITH mm AS (SELECT pos, " +
        "CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
        "/ COUNT(*) AS mean FROM (" +
        "SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings) GROUP BY 1), " +
        "x AS (SELECT vec_id, unnest(generate_series(0, len(v2) - 1)) AS pos, " +
        "unnest(v2) AS v FROM (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v2 FROM embeddings)), " +
        "c AS (SELECT x.vec_id, x.pos, x.v - mm.mean AS cv FROM x JOIN mm USING (pos)), " +
        "cov AS (SELECT a.pos AS i, b.pos AS j, " +
        s"CAST(CAST(SUM(${absorb("a.cv * b.cv")}) AS VARCHAR) AS DOUBLE) / COUNT(*) AS cv " +
        "FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY 1, 2), " +
        "dd AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS d FROM cov), " +
        "v0 AS (SELECT i AS pos, CAST(1 AS DOUBLE) / sqrt(CAST(dd.d AS DOUBLE)) AS val " +
        "FROM (SELECT DISTINCT i FROM cov), dd), "
    val iterCtes = (1 to iters).map { t =>
      s"u$t AS (SELECT cov.i AS pos, " +
        s"CAST(CAST(SUM(${absorb(s"cov.cv * v${t - 1}.val")}) AS VARCHAR) AS DOUBLE) AS u " +
        s"FROM cov JOIN v${t - 1} ON cov.j = v${t - 1}.pos GROUP BY 1), " +
        s"n$t AS (SELECT sqrt(CAST(CAST(SUM(${absorb("u * u")}) AS VARCHAR) AS DOUBLE)) AS nrm FROM u$t), " +
        s"v$t AS (SELECT pos, CASE WHEN nrm > 0 THEN u / nrm END AS val FROM u$t, n$t)"
    }.mkString(", ")
    head + iterCtes + " "
  }

  private def pcaPowerSql(iters: Int): String =
    pcaPowerCtes(iters) +
      s"SELECT CAST(pos AS INT) AS pos, val AS loading, " +
      s"CASE WHEN nrm > 0 THEN nrm END AS eigenvalue FROM v$iters, n$iters"

  /** Unrolled power-iteration SQL for q209: each iteration is one
   *  edges⋈ranks join + a DECIMAL(38,30)-routed per-target sum, exactly
   *  mirroring [[graft.operators.Relational.pageRank]]'s fixed IEEE
   *  sequence (no transcendentals, so no float absorb is needed). */
  private def pageRankSql(iters: Int): String = {
    val head =
      "WITH e AS (SELECT cn.n_name AS src, sn.n_name AS dst, CAST(COUNT(*) AS BIGINT) AS w " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation cn ON c.c_nationkey = cn.n_nationkey " +
        "JOIN nation sn ON s.s_nationkey = sn.n_nationkey GROUP BY 1, 2), " +
        "ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY 1), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes), " +
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS \"rank\" FROM nodes, nn), "
    val iterCtes = (1 to iters).map { i =>
      s"s$i AS (SELECT e.dst AS node, " +
        "SUM(CAST(CAST(r.\"rank\" * CAST(e.w AS DOUBLE) / CAST(ow.tw AS DOUBLE) " +
        "AS VARCHAR) AS DECIMAL(38,30))) AS m " +
        s"FROM e JOIN r${i - 1} r ON e.src = r.node JOIN ow ON e.src = ow.src GROUP BY 1), " +
        s"r$i AS (SELECT nodes.node, " +
        "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE) + " +
        s"CAST(0.85 AS DOUBLE) * COALESCE(CAST(CAST(s$i.m AS VARCHAR) AS DOUBLE), " +
        "CAST(0 AS DOUBLE)) AS \"rank\" " +
        s"FROM nodes CROSS JOIN nn LEFT JOIN s$i ON s$i.node = nodes.node)"
    }.mkString(", ")
    head + iterCtes + s" SELECT node, \"rank\" FROM r$iters"
  }

  /** Unrolled clamped label-propagation SQL for q210: cosine weights
   *  decimal-routed at the edge (q197 contract) so every per-(node,
   *  label) score — and therefore every argmax — compares EXACT
   *  decimals; seeds re-enter each frontier verbatim. */
  private def labelPropSql(iters: Int): String = {
    val cosExpr = "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), " +
      "CAST(q.embedding AS DOUBLE[]))"
    val head =
      "WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 64), " +
        "nn AS (SELECT query_id, neighbor_id, " +
        "CAST(CAST(cos AS VARCHAR) AS DECIMAL(28,18)) AS w FROM (" +
        s"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosExpr AS cos, " +
        s"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cosExpr DESC, c.vec_id) AS rank " +
        "FROM e c JOIN e q ON c.vec_id <> q.vec_id) WHERE rank <= 3), " +
        "l0 AS (SELECT vec_id AS node, label AS lab FROM e WHERE vec_id % 5 = 0), "
    val iterCtes = (1 to iters).map { i =>
      s"c$i AS (SELECT nn.query_id AS dst, l.lab, SUM(nn.w) AS score " +
        s"FROM nn JOIN l${i - 1} l ON nn.neighbor_id = l.node GROUP BY 1, 2), " +
        s"w$i AS (SELECT dst, lab FROM (SELECT dst, lab, " +
        "ROW_NUMBER() OVER (PARTITION BY dst ORDER BY score DESC, lab ASC) AS rn " +
        s"FROM c$i) WHERE rn = 1), " +
        s"l$i AS (SELECT node, lab FROM l0 UNION ALL " +
        s"SELECT dst AS node, lab FROM w$i WHERE dst NOT IN (SELECT node FROM l0))"
    }.mkString(", ")
    head + iterCtes +
      s" SELECT e.vec_id, l.lab AS label FROM e LEFT JOIN l$iters l ON e.vec_id = l.node"
  }

  def oracleSql: Map[String, String] = Map(
    "q01_group_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
        "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q02_merge_right_dedup" ->
      ("SELECT l_orderkey, l_partkey, p_brand, l_quantity FROM (" +
        "SELECT l.l_orderkey, l.l_partkey, p.p_brand, l.l_quantity, " +
        "ROW_NUMBER() OVER (PARTITION BY l.l_partkey ORDER BY l.l_orderkey, l.l_linenumber) AS rn " +
        "FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey) WHERE rn = 1"),
    "q03_project_filter" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01'"),
    "q04_impute_median" ->
      ("SELECT c_custkey, CASE WHEN c_acctbal >= 0 THEN c_acctbal ELSE " +
        "(SELECT CAST(median(c_acctbal) AS DOUBLE) FROM customer WHERE c_acctbal >= 0) END " +
        "AS acctbal_imputed FROM customer"),
    "q05_fill_sentinel" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN l_discount <> 0.0 THEN l_discount ELSE -1.0 END AS discount_s FROM lineitem"),
    "q06_domain_validation" ->
      ("SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM') " +
        "THEN o_orderpriority ELSE 'OTHER' END AS priority, COUNT(*) AS n " +
        "FROM orders GROUP BY 1"),
    "q07_invariant_filter" ->
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem WHERE l_discount <= l_tax GROUP BY 1",
    "q08_dateparts" ->
      (s"SELECT year(o_orderdate) AS ano, quarter(o_orderdate) AS trimestre, $monthCaseSql AS mes, " +
        "COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price, " +
        "CAST(SUM(CASE WHEN isodow(o_orderdate) < 6 THEN 1 ELSE 0 END) AS BIGINT) AS workdays " +
        "FROM orders GROUP BY 1, 2, 3"),
    "q09_phase_bucketing" ->
      ("SELECT CASE WHEN hour(ts) >= 5 AND hour(ts) < 7 THEN 'Amanhecer' " +
        "WHEN hour(ts) >= 7 AND hour(ts) < 12 THEN 'Dia' " +
        "WHEN hour(ts) >= 12 AND hour(ts) < 18 THEN 'Tarde' " +
        "WHEN hour(ts) >= 18 AND hour(ts) < 24 THEN 'Noite' " +
        "ELSE 'Madrugada' END AS fase_dia, COUNT(*) AS n FROM events GROUP BY 1"),
    "q10_holiday_flag" ->
      (s"SELECT CAST(o_orderdate AS DATE) IN $holidayInListSql AS feriado, " +
        "year(o_orderdate) AS ano, COUNT(*) AS n FROM orders GROUP BY 1, 2"),
    "q11_value_map" ->
      ("SELECT CASE WHEN o_orderstatus = 'O' THEN 'Open' WHEN o_orderstatus = 'F' THEN 'Finished' " +
        "WHEN o_orderstatus = 'P' THEN 'Pending' ELSE 'Unknown' END AS status, COUNT(*) AS n " +
        "FROM orders GROUP BY 1"),
    "q12_multiflag_split" ->
      ("SELECT CAST(SUM(CASE WHEN p_name LIKE '%rod%' THEN 1 ELSE 0 END) AS BIGINT) AS n_rod, " +
        "CAST(SUM(CASE WHEN p_name LIKE '%ring%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ring, " +
        "CAST(SUM(CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END) AS BIGINT) AS n_widget, " +
        "CAST(SUM(CASE WHEN p_name LIKE '%blue%' THEN 1 ELSE 0 END) AS BIGINT) AS n_blue FROM part"),
    "q13_string_ops" ->
      ("SELECT p_partkey, split_part(p_name, ' ', 1) AS name_head, " +
        "CASE WHEN strpos(p_name, ' ') > 0 THEN substr(p_name, strpos(p_name, ' ') + 1) ELSE '' END AS name_tail, " +
        "concat_ws('#', p_brand, p_type) AS brand_type FROM part"),
    "q14_union_slices" ->
      ("SELECT year(o_orderdate) AS ano, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price FROM (" +
        "SELECT * FROM orders WHERE year(o_orderdate) = 1995 " +
        "UNION ALL SELECT * FROM orders WHERE year(o_orderdate) = 1996) GROUP BY 1"),
    "q15_dim_build" ->
      ("SELECT o_orderpriority, o_orderstatus, " +
        s"md5(${nkSql("o_orderpriority")} || chr(1) || ${nkSql("o_orderstatus")}) AS id_dim " +
        "FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)"),
    "q16_fact_build" ->
      (s"SELECT md5(${nkSql("o_orderpriority")}) AS id_priority, md5(${nkSql("c_mktsegment")}) AS id_segment, " +
        "COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2"),
    "q17_fact_dedup" ->
      ("SELECT o_orderpriority, o_orderstatus, o_orderkey FROM (" +
        "SELECT o_orderpriority, o_orderstatus, o_orderkey, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderpriority, o_orderstatus ORDER BY o_orderkey) AS rn " +
        "FROM orders) WHERE rn = 1"),
    "q18_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q19_window_funcs" ->
      ("SELECT user_id, event_id, " +
        "ROW_NUMBER() OVER w AS seq, " +
        "LAG(value, 1) OVER w AS prev_value, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value " +
        "FROM events WHERE user_id < 20 " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
    "q20_pivot" ->
      ("SELECT CAST(ts AS DATE) AS day, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error " +
        "FROM events GROUP BY 1"),
    "q21_anti_semi_join" ->
      ("SELECT c_mktsegment, COUNT(*) AS n FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2001-01-01') GROUP BY 1"),
    "q22_star_join_agg" ->
      ("SELECT r_name, n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY 1, 2"),
    "q23_time_bucket_agg" ->
      ("SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value FROM events GROUP BY 1"),
    "q24_json_extract" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n " +
        "FROM events GROUP BY 1"),
    "q25_dedup_exact" ->
      "SELECT text, MIN(doc_id) AS keeper, COUNT(*) AS n FROM documents GROUP BY text",
    "q26_text_stats" ->
      ("WITH s AS (SELECT doc_id, n_chars, " +
        "len(string_split(text, ' ')) AS n_tokens, " +
        s"len(list_filter(string_split(text, ' '), t -> t IN $enStopSql)) AS n_stop " +
        "FROM documents) " +
        "SELECT doc_id, n_tokens, n_stop, " +
        "0.5::DOUBLE * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) " +
        "+ 0.3::DOUBLE * (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) " +
        "+ 0.2::DOUBLE * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS quality FROM s"),
    "q27_lang_id" ->
      ("WITH h AS (SELECT " +
        s"len(list_filter(string_split(text, ' '), t -> t IN $enStopSql)) AS en, " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','los','es'))) AS es, " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('o','os','um','uma','não'))) AS pt " +
        "FROM documents) " +
        "SELECT CASE WHEN en >= es AND en >= pt AND en > 0 THEN 'en' " +
        "WHEN es >= pt AND es > 0 THEN 'es' WHEN pt > 0 THEN 'pt' ELSE 'und' END AS lang_guess, " +
        "COUNT(*) AS n FROM h GROUP BY 1"),
    "q28_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp " +
        "FROM documents"),
    "q31_ngram_jaccard" ->
      ("WITH g AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(1, greatest(length(text) - 2, 1) + 1), i -> substr(text, i, 3))) AS gr " +
        "FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.gr, b.gr))) AS jaccard " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1"),
    "q32_ann_bruteforce" ->
      ("SELECT query_id, rank, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5"),
    // full-probe IVF over the persisted index == brute force exactly
    "q57_ann_ivf_index" ->
      ("SELECT query_id, rank, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5"),
    "q36_rollup_agg" ->
      ("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)"),
    "q37_sessionize_batch" ->
      ("WITH x AS (SELECT user_id, ts, CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts) > 3600000000 THEN 1 ELSE 0 END AS ns " +
        "FROM events), " +
        "y AS (SELECT user_id, ts, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM x) " +
        "SELECT user_id, session_idx, COUNT(*) AS n_events, " +
        "MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM y GROUP BY 1, 2"),
    "q38_asof_join" ->
      ("SELECT p.user_id, p.event_id, p.ts, c.ts AS last_click_ts " +
        "FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts"),
    "q39_distinct_count" ->
      "SELECT COUNT(DISTINCT l_partkey) AS n_distinct FROM lineitem",
    "q40_quantiles" ->
      ("SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50, " +
        "quantile_cont(l_extendedprice, 0.9) AS p90 FROM lineitem GROUP BY 1"),
    "q41_corr_stats" ->
      ("SELECT l_returnflag, " +
        "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) " +
        "AS corr_disc_tax, " +
        "sqrt(greatest(n * sxx - sx * sx, 0.0)) / n AS std_disc, CAST(n AS BIGINT) AS n FROM (" +
        "SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(22,4)) * CAST(l_tax AS DECIMAL(22,4))) AS DOUBLE) AS sxy, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(22,4)) * CAST(l_discount AS DECIMAL(22,4))) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(l_tax AS DECIMAL(22,4)) * CAST(l_tax AS DECIMAL(22,4))) AS DOUBLE) AS syy " +
        "FROM lineitem GROUP BY 1)"),
    "q42_regex_extract" ->
      ("SELECT CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INT) AS brand_num, " +
        "COUNT(*) AS n FROM part GROUP BY 1"),
    "q44_null_profile" ->
      ("SELECT COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity, " +
        "CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_discount_n, " +
        "CAST(SUM(CASE WHEN NULLIF(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_tax_n " +
        "FROM lineitem"),
    "q45_stratified_sample" ->
      ("SELECT lang, doc_id, n_chars FROM (" +
        "SELECT lang, doc_id, n_chars, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn " +
        "FROM documents) WHERE rn <= 10"),
    "q46_idempotent_load" ->
      ("SELECT o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        "FROM orders WHERE o_orderkey % 2 = 0 AND NOT EXISTS (" +
        "SELECT 1 FROM orders e WHERE e.o_orderkey % 3 = 0 " +
        "AND e.o_orderkey = orders.o_orderkey) GROUP BY 1"),
    "q47_cube_agg" ->
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority) AS INT) AS is_total_o_orderpriority, " +
        "CAST(GROUPING(o_orderstatus) AS INT) AS is_total_o_orderstatus, " +
        "COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)"),
    "q50_brand_model_split" ->
      ("WITH src AS (SELECT p_partkey, CASE " +
        "WHEN p_partkey % 3 = 0 THEN 'I/' || upper(p_name) " +
        "WHEN p_partkey % 3 = 1 THEN 'IVECO/' || upper(p_name) " +
        "ELSE upper(p_name) END AS marca FROM part), " +
        "segs AS (SELECT p_partkey, string_split(marca, '/') AS sg FROM src), " +
        "m AS (SELECT p_partkey, sg[1] AS seg0, " +
        "CASE WHEN len(sg) >= 2 THEN sg[2] END AS seg1 FROM segs) " +
        "SELECT p_partkey, " +
        "COALESCE(CASE WHEN substr(seg0, 1, 1) = 'I' " +
        "THEN string_split(seg1, ' ')[1] ELSE seg0 END, 'não informado') AS brand, " +
        "COALESCE(CASE WHEN seg0 = 'I' THEN (CASE WHEN seg1 IS NULL THEN NULL " +
        "WHEN strpos(seg1, ' ') > 0 THEN substr(seg1, strpos(seg1, ' ') + 1) " +
        "ELSE '' END) ELSE seg1 END, 'não informado') AS modelo " +
        "FROM m"),
    "q51_dim_dense_key" ->
      ("SELECT p_brand, p_type, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY p_brand, p_type) AS INT) AS dim_sk " +
        "FROM (SELECT DISTINCT p_brand, p_type FROM part)"),
    "q55_curation_pipeline" -> curationOracleSql(""),
    "q97_blocklist_curation" -> curationOracleSql(
      " WHERE source IS NOT NULL AND NOT (source IN ('src13', 'src7') " +
        "OR regexp_matches(source, '^src1[0-2]$'))"),
    "q56_range_join" ->
      ("SELECT i.o_orderkey AS i_key, COUNT(*) AS n FROM orders o JOIN " +
        "(SELECT o_orderkey, o_orderdate AS s, o_orderdate + INTERVAL 7 DAY AS e " +
        "FROM orders WHERE o_orderkey % 601 = 0) i " +
        "ON o.o_orderdate >= i.s AND o.o_orderdate <= i.e GROUP BY 1"),
    "q58_scd2_merge" ->
      ("WITH existing AS (SELECT c_custkey, c_mktsegment, " +
        "TIMESTAMP '1990-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to, " +
        "TRUE AS is_current FROM customer), " +
        "inc AS (SELECT c_custkey, CASE WHEN c_custkey % 4 = 0 THEN 'SEG-NEW' " +
        "ELSE c_mktsegment END AS c_mktsegment FROM customer WHERE c_custkey % 2 = 0), " +
        "changed AS (SELECT i.c_custkey FROM inc i JOIN existing e USING (c_custkey) " +
        "WHERE i.c_mktsegment IS DISTINCT FROM e.c_mktsegment) " +
        "SELECT e.c_custkey, e.c_mktsegment, e.valid_from, " +
        "CASE WHEN ch.c_custkey IS NOT NULL THEN TIMESTAMP '1995-06-01' ELSE e.valid_to END AS valid_to, " +
        "ch.c_custkey IS NULL AS is_current " +
        "FROM existing e LEFT JOIN changed ch USING (c_custkey) " +
        "UNION ALL " +
        "SELECT i.c_custkey, i.c_mktsegment, TIMESTAMP '1995-06-01', " +
        "CAST(NULL AS TIMESTAMP), TRUE " +
        "FROM inc i LEFT JOIN existing e USING (c_custkey) " +
        "LEFT JOIN changed ch ON i.c_custkey = ch.c_custkey " +
        "WHERE ch.c_custkey IS NOT NULL OR e.c_custkey IS NULL"),
    "q52_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, " +
        "'''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+', 0)) AS INT) " +
        "AS bpe_tokens FROM documents"),
    "q53_dim_dense_scalable" ->
      ("SELECT l_orderkey, l_linenumber, ROW_NUMBER() OVER " +
        "(ORDER BY l_orderkey, l_linenumber) AS dim_sk " +
        "FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)"),
    "q61_quality_rules" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t WHERE len(toks) >= 2), " +
        "c AS (SELECT doc_id, COUNT(*) AS c FROM g GROUP BY doc_id, gram), " +
        "m AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS frac FROM c GROUP BY doc_id) " +
        "SELECT t.doc_id, " +
        "CAST(len(string_split(t.text, chr(10))) - len(list_distinct(string_split(t.text, chr(10)))) AS DOUBLE) " +
        "/ len(string_split(t.text, chr(10))) AS dup_line_frac, " +
        "coalesce(m.frac, 0.0) AS top2gram_frac, " +
        "CAST(len(regexp_extract_all(t.text, '[^\\p{L}\\p{N} ]')) AS DOUBLE) " +
        "/ greatest(len(toks), 1) AS symbol_word_ratio, " +
        "CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) AS mean_word_len " +
        "FROM t LEFT JOIN m USING (doc_id)"),
    "q63_salted_agg" ->
      ("SELECT l_returnflag, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem GROUP BY 1"),
    "q64_salted_join" ->
      ("SELECT p.p_brand, " +
        "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "GROUP BY 1"),
    "q65_bucketed_join" ->
      ("SELECT o.o_custkey, " +
        "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1"),
    "q66_parse_validated" ->
      ("WITH s AS (SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-date' " +
        "ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw FROM orders), " +
        "p AS (SELECT try_strptime(raw, '%Y-%m-%d') AS parsed FROM s) " +
        "SELECT parsed IS NOT NULL AS parse_ok, year(parsed) AS ano, COUNT(*) AS n " +
        "FROM p GROUP BY 1, 2"),
    "q67_locale_normalize" ->
      ("SELECT c_custkey, CAST(replace(replace(CAST(c_acctbal AS VARCHAR), '.', ','), " +
        "',', '.') AS DOUBLE) AS bal FROM customer"),
    "q68_pii_redact" ->
      ("WITH s AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 5 = 0 THEN text || ' contact bob@example.com or 10.0.255.7 today' " +
        "WHEN doc_id % 7 = 0 THEN text || ' call (555) 867-5309 now' " +
        "ELSE text END AS text FROM documents) " +
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g'), " +
        "'\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<PII>', 'g'), " +
        "'\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PII>', 'g') AS clean FROM s"),
    "q69_c4_line_filter" ->
      ("WITH s AS (SELECT doc_id, substr(text, 1, 40) || ' end.' || chr(10) || " +
        "'enable javascript to continue' || chr(10) || " +
        "'lorem ipsum dolor sit amet' || chr(10) || " +
        "'{ code }' || chr(10) || " +
        "'the tail says ' || substr(text, 41, 30) || '!' AS text FROM documents), " +
        "k AS (SELECT doc_id, list_filter(string_split(text, chr(10)), l -> " +
        "regexp_matches(l, '[.!?\"]$') AND len(string_split(l, ' ')) >= 3 " +
        "AND NOT contains(lower(l), 'javascript') " +
        "AND NOT contains(lower(l), 'lorem ipsum') " +
        "AND NOT contains(lower(l), '{')) AS kept FROM s) " +
        "SELECT doc_id, array_to_string(kept, chr(10)) AS clean, " +
        "CAST(len(kept) AS INT) AS n_lines FROM k"),
    "q70_tfidf_topterms" ->
      ("WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "d AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df, " +
        "(SELECT COUNT(*) FROM documents) AS n FROM tf), " +
        "r AS (SELECT doc_id, term, tf, df, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY CAST(tf * ln(CAST(n + 1 AS DOUBLE) / (df + 1)) AS FLOAT) DESC, term) AS rank FROM d) " +
        "SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df FROM r WHERE rank <= 3"),
    "q71_global_line_dedup" ->
      ("WITH s AS (SELECT doc_id, 'every doc shares this boilerplate line' || chr(10) || " +
        "text || chr(10) || 'unique tail for doc ' || doc_id AS text FROM documents), " +
        "l AS (SELECT doc_id, unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos, " +
        "unnest(string_split(text, chr(10))) AS line FROM s), " +
        "r AS (SELECT doc_id, pos, line, ROW_NUMBER() OVER (PARTITION BY line " +
        "ORDER BY doc_id, pos) AS rn FROM l) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean, " +
        "CAST(COUNT(*) AS INT) AS n_lines FROM r WHERE rn = 1 GROUP BY doc_id"),
    "q72_mean_embedding" ->
      ("WITH e AS (SELECT label, " +
        "unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings) " +
        "SELECT label, CAST(pos AS INT) AS pos, " +
        // decimal -> VARCHAR -> DOUBLE: DuckDB's direct decimal->double
        // double-rounds (int128 / 10^18 in floating point); the string
        // parse is correctly rounded, matching Spark's Decimal.toDouble
        "CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
        "/ COUNT(*) AS mean FROM e GROUP BY label, pos"),
    "q74_winsorize" ->
      ("WITH b AS (SELECT l_returnflag, " +
        "quantile_cont(l_extendedprice, 0.05) AS lo, " +
        "quantile_cont(l_extendedprice, 0.95) AS hi " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l.l_returnflag, " +
        "CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi) AS DECIMAL(18,4))) AS DOUBLE) AS sum_w, " +
        "COUNT(*) AS n FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1"),
    "q75_zscore" ->
      // moments via exact decimal sums, decimal->double through VARCHAR
      // (strtod is correctly rounded; DuckDB's direct cast double-rounds)
      ("WITH b AS (SELECT l_returnflag, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx, " +
        // 22,4 casts give DuckDB int128 room for the product (int64 would
        // overflow); the sum itself then exceeds 2^53 scaled units, which
        // is why the VARCHAR routing matters here
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,4)) * CAST(l_extendedprice AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(COUNT(*) AS DOUBLE) AS n, " +
        // constant-group detection must be EXACT (decimal min == max):
        // the float moment cancellation leaves a ±ulp residue either way
        "min(CAST(l_extendedprice AS DECIMAL(18,4))) = max(CAST(l_extendedprice AS DECIMAL(18,4))) AS isconst " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "CASE WHEN isconst THEN 0.0 " +
        "ELSE (l.l_extendedprice - sx / n) / (sqrt(greatest(n * sxx - sx * sx, 0.0)) / n) END AS z " +
        "FROM lineitem l JOIN b USING (l_returnflag)"),
    "q76_minmax_scale" ->
      ("WITH b AS (SELECT l_returnflag, min(l_quantity) AS mn, max(l_quantity) AS mx " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "CASE WHEN mx = mn THEN 0.0 ELSE (l.l_quantity - mn) / (mx - mn) END AS x " +
        "FROM lineitem l JOIN b USING (l_returnflag)"),
    "q77_sequence_pack" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok " +
        "FROM documents), " +
        "p AS (SELECT doc_id, tok, CAST(SUM(tok) OVER (ORDER BY doc_id) AS BIGINT) AS cend " +
        "FROM t WHERE tok > 0), " +
        "s AS (SELECT doc_id, cend - tok AS cstart, cend FROM p), " +
        "x AS (SELECT doc_id, cstart, cend, " +
        "unnest(generate_series(cstart // 512, (cend - 1) // 512)) AS seq_id FROM s) " +
        "SELECT doc_id, seq_id, " +
        "greatest(cstart, seq_id * 512) - cstart AS doc_off, " +
        "greatest(cstart, seq_id * 512) - seq_id * 512 AS seq_off, " +
        "least(cend, (seq_id + 1) * 512) - greatest(cstart, seq_id * 512) AS len FROM x"),
    "q78_mixture_sample" ->
      ("SELECT doc_id, source FROM documents " +
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < CASE source " +
        q78Weights.toSeq.sortBy(_._1).map { case (s, w) =>
          s"WHEN '$s' THEN '${Features.weightThresholdHex(w)}'"
        }.mkString(" ") +
        s" ELSE '${Features.weightThresholdHex(q78Default)}' END"),
    "q79_quantile_bins" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, " +
        "CAST(ntile(10) OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bin " +
        "FROM lineitem"),
    "q80_moving_avg" ->
      // decimal framed sum: segment-tree vs running-accumulator double
      // sums differ in the last ulp; the decimal sum is order-free and
      // stays below 2^53 scaled units, so the direct DOUBLE cast matches
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) " +
        "/ COUNT(*) OVER w AS mavg7 FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"),
    "q81_histogram" ->
      ("WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem) " +
        "SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT) " +
        "ELSE least(CAST(floor((l_extendedprice - lo) * 20 / (hi - lo)) AS BIGINT), 19) END AS bucket, " +
        "COUNT(*) AS cnt FROM lineitem, b GROUP BY 1"),
    "q82_gap_fill" ->
      ("WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_sum FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1), " +
        "cal AS (SELECT user_id, CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), " +
        "CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM sp), " +
        "j AS (SELECT c.user_id, c.day, coalesce(d.n_events, 0) AS n_events, d.day_sum " +
        "FROM cal c LEFT JOIN d ON c.user_id = d.user_id AND c.day = d.day) " +
        "SELECT user_id, day, n_events, " +
        "last_value(day_sum IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day) AS day_sum FROM j"),
    "q83_cdc_apply" ->
      ("WITH ch AS (SELECT o_custkey AS k, o_totalprice AS v, " +
        "CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
        "FROM orders), l AS (SELECT * FROM ch WHERE rn = 1) " +
        "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey NOT IN (SELECT k FROM l) " +
        "UNION ALL SELECT k AS c_custkey, v AS c_acctbal FROM l WHERE op <> 'D'"),
    "q86_k_anonymity" ->
      ("SELECT c_custkey, " +
        "CASE WHEN n < 20 THEN NULL ELSE c_nationkey END AS c_nationkey, " +
        "CASE WHEN n < 20 THEN NULL ELSE c_mktsegment END AS c_mktsegment, " +
        "n < 20 AS qi_suppressed FROM " +
        "(SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n FROM customer)"),
    "q87_text_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS norm " +
        "FROM documents"),
    "q88_incremental_agg" ->
      // the oracle recomputes from scratch; Spark merges stored + delta
      // partials — equality IS the incremental-maintenance contract
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY 1"),
    "q89_group_topk" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM " +
        "(SELECT o_orderkey, o_custkey, o_totalprice, ROW_NUMBER() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) " +
        "WHERE rnk <= 3"),
    "q90_snapshot_diff" ->
      ("WITH o AS (SELECT c_custkey, c_acctbal FROM customer), " +
        "n AS (SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 " +
        "ELSE c_acctbal END AS c_acctbal FROM customer WHERE c_custkey % 7 <> 0 " +
        "UNION ALL SELECT c_custkey + 1000000, 1.0 FROM customer WHERE c_custkey % 11 = 0), " +
        "d AS (SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey, " +
        "CASE WHEN n.c_custkey IS NULL THEN o.c_acctbal ELSE n.c_acctbal END AS c_acctbal, " +
        "CASE WHEN o.c_custkey IS NULL THEN 'I' WHEN n.c_custkey IS NULL THEN 'D' " +
        "WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'U' END AS op " +
        "FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey) " +
        "SELECT * FROM d WHERE op IS NOT NULL"),
    "q91_heavy_hitters" ->
      ("WITH c AS (SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1), " +
        "t AS (SELECT COUNT(*) AS tt FROM lineitem) " +
        "SELECT l_partkey, n, CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS share " +
        "FROM c, t ORDER BY n DESC, l_partkey LIMIT 20"),
    "q92_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS value FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"),
    "q93_key_deltas" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice - lag(o_totalprice, 1) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta FROM orders"),
    "q94_cohort_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "c AS (SELECT user_id, min(day) AS cohort FROM a GROUP BY 1) " +
        "SELECT cohort, CAST(a.day - c.cohort AS BIGINT) AS day_offset, " +
        "COUNT(DISTINCT a.user_id) AS n_users " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2"),
    "q95_group_histogram" ->
      ("WITH e AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS v FROM events), " +
        "b AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM e GROUP BY 1) " +
        "SELECT e.event_type, CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT) " +
        "ELSE least(CAST(floor((e.v - b.lo) * 12 / (b.hi - b.lo)) AS BIGINT), 11) END AS bucket, " +
        "COUNT(*) AS cnt FROM e JOIN b USING (event_type) GROUP BY 1, 2"),
    "q98_fuzzy_clusters" ->
      ("WITH RECURSIVE " +
        "b AS (SELECT p_partkey AS id, " +
        "p_name || ' ' || p_brand || ' ' || p_type AS t, " +
        "p_name || chr(1) || p_brand AS blk FROM part), " +
        "e0 AS (SELECT a.id AS a, x.id AS b FROM b a JOIN b x " +
        "ON a.blk = x.blk AND a.id < x.id WHERE levenshtein(a.t, x.t) <= 4), " +
        "edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) " +
        "SELECT CAST(a AS BIGINT) AS id, CAST(least(a, min(b)) AS BIGINT) AS cluster, " +
        "a = least(a, min(b)) AS is_keeper FROM reach GROUP BY a"),
    "q99_decontam_exact" ->
      ("WITH e AS (SELECT DISTINCT substr(text, 10, 40) AS excerpt " +
        "FROM documents WHERE doc_id % 97 = 0), " +
        "f AS (SELECT excerpt FROM e WHERE len(excerpt) = 40) " +
        "SELECT d.doc_id, COUNT(*) AS n_hits FROM documents d " +
        "JOIN f ON contains(d.text, f.excerpt) GROUP BY 1"),
    "q100_distinct_rollup" ->
      ("SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct " +
        "FROM events GROUP BY 1"),
    "q101_chunk_docs" ->
      // starts stop at len - overlap - 1 (= len - 51): a later start
      // would emit a tail chunk wholly contained in the previous one
      ("WITH g AS (SELECT doc_id, text, " +
        "unnest(generate_series(0, greatest(len(text) - 51, 0), 350)) AS gs " +
        "FROM documents WHERE len(text) > 0) " +
        "SELECT doc_id, CAST(gs AS BIGINT) AS chunk_start, " +
        "substr(text, CAST(gs AS INT)+1, 400) AS chunk FROM g"),
    "q102_group_sample" ->
      ("SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "WHERE rn <= 10"),
    "q104_corr_matrix" ->
      ("WITH src AS (SELECT l_discount AS disc, l_tax AS tax, l_quantity / 50 AS qn FROM lineitem), " +
        "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
        Seq("disc", "tax", "qn").map(c =>
          s"CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) AS s_$c, " +
          s"CAST(SUM(CAST($c AS DECIMAL(22,4)) * CAST($c AS DECIMAL(22,4))) AS DOUBLE) AS q_$c").mkString(", ") + ", " +
        Seq(("disc", "tax"), ("disc", "qn"), ("tax", "qn")).map { case (a, b) =>
          s"CAST(SUM(CAST($a AS DECIMAL(22,4)) * CAST($b AS DECIMAL(22,4))) AS DOUBLE) AS p_${a}_$b" }.mkString(", ") +
        " FROM src) " +
        Seq(("disc", "tax"), ("disc", "qn"), ("tax", "qn")).map { case (a, b) =>
          s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          s"(n * p_${a}_$b - s_$a * s_$b) / " +
          s"(sqrt(n * q_$a - s_$a * s_$a) * sqrt(n * q_$b - s_$b * s_$b)) AS corr FROM m"
        }.mkString(" UNION ALL ")),
    "q103_hash_split" ->
      // thresholds computed by the SAME cumulative-double arithmetic as
      // Features.hashSplit, so both engines compare identical literals
      (s"SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8)}' THEN 'train' " +
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8 + 0.1)}' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents"),
    "q96_impute_multi" ->
      ("WITH m AS (SELECT " +
        "CAST(median(CASE WHEN l_discount <> 0.0 THEN l_discount END) AS DOUBLE) AS md, " +
        "CAST(median(CASE WHEN l_tax <> 0.0 THEN l_tax END) AS DOUBLE) AS mt FROM lineitem) " +
        "SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN l_discount <> 0.0 THEN l_discount ELSE m.md END AS discount_i, " +
        "CASE WHEN l_tax <> 0.0 THEN l_tax ELSE m.mt END AS tax_i " +
        "FROM lineitem, m"),
    "q84_fuzzy_match" ->
      ("WITH b AS (SELECT p_partkey AS id, " +
        "p_name || ' ' || p_brand || ' ' || p_type AS t, " +
        "p_name || chr(1) || p_brand AS blk FROM part) " +
        "SELECT a.id AS id_a, x.id AS id_b, CAST(levenshtein(a.t, x.t) AS BIGINT) AS dist " +
        "FROM b a JOIN b x ON a.blk = x.blk AND a.id < x.id " +
        "WHERE levenshtein(a.t, x.t) <= 4"),
    "q62_cc_labels" ->
      ("WITH RECURSIVE " +
        "e0 AS (SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 4 <> 3 " +
        "UNION ALL SELECT doc_id, doc_id + 10 FROM documents WHERE doc_id % 20 = 0), " +
        "edges AS (SELECT a, b FROM e0 WHERE a <> b " +
        "UNION SELECT b, a FROM e0 WHERE a <> b), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) " +
        "SELECT a AS id, CAST(least(a, min(b)) AS BIGINT) AS component " +
        "FROM reach GROUP BY a"),
    "q105_intradoc_dedup" ->
      // same planting as the Spark side: two extra copies of the doc's
      // 80-char prefix; parallel unnest carries first-occurrence order
      ("WITH p AS (SELECT doc_id, text || chr(10) || substr(text, 1, 80) || " +
        "chr(10) || substr(text, 1, 80) AS t FROM documents), " +
        "l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line, " +
        "unnest(generate_series(1, len(string_split(t, chr(10))))) AS ord FROM p), " +
        "d AS (SELECT doc_id, line, min(ord) AS o FROM l GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY o) AS text_dedup, " +
        "COUNT(*) AS n_dist FROM d GROUP BY 1), " +
        "tot AS (SELECT doc_id, COUNT(*) AS n_tot FROM l GROUP BY 1) " +
        "SELECT a.doc_id, a.text_dedup, CAST(t.n_tot - a.n_dist AS BIGINT) AS n_removed " +
        "FROM agg a JOIN tot t USING (doc_id)"),
    "q106_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag) AS INT) AS is_total_l_returnflag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS is_total_l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())"),
    "q107_interval_merge" ->
      ("WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e " +
        "FROM events), " +
        "x AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv), " +
        "y AS (SELECT user_id, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM x), " +
        "z AS (SELECT user_id, s, e, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e " +
        "ROWS UNBOUNDED PRECEDING) AS island FROM y) " +
        "SELECT user_id, CAST(min(s) AS BIGINT) AS start_us, CAST(max(e) AS BIGINT) AS end_us, " +
        "COUNT(*) AS n_merged FROM z GROUP BY user_id, island"),
    "q108_funnel" ->
      ("WITH u1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "u2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e " +
        "JOIN u1 USING (user_id) WHERE e.event_type = 'click' AND epoch_us(e.ts) > u1.t GROUP BY 1), " +
        "u3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e " +
        "JOIN u2 USING (user_id) WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > u2.t GROUP BY 1) " +
        "SELECT CAST(1 AS INT) AS step, 'view' AS step_name, COUNT(*) AS n_users FROM u1 " +
        "UNION ALL SELECT CAST(2 AS INT), 'click', COUNT(*) FROM u2 " +
        "UNION ALL SELECT CAST(3 AS INT), 'purchase', COUNT(*) FROM u3"),
    "q109_mad_outliers" ->
      ("WITH m AS (SELECT c_mktsegment, median(c_acctbal) AS med FROM customer GROUP BY 1), " +
        "d AS (SELECT c_custkey, c.c_mktsegment, c_acctbal, abs(c_acctbal - m.med) AS deviation " +
        "FROM customer c JOIN m USING (c_mktsegment)), " +
        "md AS (SELECT c_mktsegment, median(deviation) AS mad FROM d GROUP BY 1) " +
        "SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, d.deviation, " +
        "d.deviation > 3.0 * md.mad AS is_outlier FROM d JOIN md USING (c_mktsegment)"),
    "q110_streaks" ->
      ("WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "r AS (SELECT user_id, day, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM a), " +
        "g AS (SELECT user_id, day - CAST(rn AS INT) AS anchor FROM r), " +
        "c AS (SELECT user_id, anchor, COUNT(*) AS run FROM g GROUP BY 1, 2) " +
        "SELECT user_id, CAST(max(run) AS BIGINT) AS best_streak, " +
        "CAST(sum(run) AS BIGINT) AS n_active_days FROM c GROUP BY 1"),
    "q111_jaro_linkage" ->
      // bit-comparable on ASCII: graft's expression and DuckDB share the
      // truncating transposition convention (mismatches / 2, integer)
      ("WITH b AS (SELECT p_partkey AS id, " +
        "p_name || ' ' || p_brand || ' ' || p_type AS t, " +
        "p_name || chr(1) || p_brand AS blk FROM part) " +
        "SELECT a.id AS id_a, x.id AS id_b, jaro_winkler_similarity(a.t, x.t) AS jw " +
        "FROM b a JOIN b x ON a.blk = x.blk AND a.id < x.id " +
        "WHERE jaro_winkler_similarity(a.t, x.t) >= 0.9"),
    "q112_ewma" ->
      // weight literals generated from the SAME dyadic sequence as the
      // Spark side (exact plain-decimal strings of powers of two), and
      // the +-chains associate left in both engines — identical IEEE
      // op sequence, so the smoothed doubles hash-match
      ("SELECT event_id, user_id, value, (" +
        graft.operators.Events.ewmaWeights(0.5, 8).zipWithIndex.map { case (w, j) =>
          val v = if (j == 0) "value" else s"lag(value, $j) OVER w"
          s"CASE WHEN $v IS NOT NULL THEN CAST(${new java.math.BigDecimal(w).toPlainString} AS DOUBLE) * $v ELSE 0.0 END"
        }.mkString(" + ") + ") / (" +
        graft.operators.Events.ewmaWeights(0.5, 8).zipWithIndex.map { case (w, j) =>
          val v = if (j == 0) "value" else s"lag(value, $j) OVER w"
          s"CASE WHEN $v IS NOT NULL THEN CAST(${new java.math.BigDecimal(w).toPlainString} AS DOUBLE) ELSE 0.0 END"
        }.mkString(" + ") + ") AS ewma FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    "q113_rolling_anomaly" ->
      // same exact-decimal windowed moments + identical closed forms;
      // the greatest(x, 0) clamp mirrors Exact.decStddevPop
      ("WITH m AS (SELECT event_id, user_id, value, " +
        "CAST(COUNT(value) OVER w AS DOUBLE) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(value AS DECIMAL(22,4)) * CAST(value AS DECIMAL(22,4))) OVER w AS DOUBLE) AS sxx " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_id, user_id, value, " +
        "CASE WHEN n > 0 THEN sx / n END AS roll_mean, " +
        "CASE WHEN n > 0 THEN sqrt(greatest(n * sxx - sx * sx, 0.0)) / n END AS roll_std, " +
        "coalesce(abs(value - CASE WHEN n > 0 THEN sx / n END) > " +
        "3.0 * (CASE WHEN n > 0 THEN sqrt(greatest(n * sxx - sx * sx, 0.0)) / n END), false) AS is_anomaly FROM m"),
    "q114_transitions" ->
      ("WITH p AS (SELECT event_type AS from_state, lead(event_type, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS to_state FROM events), " +
        "c AS (SELECT from_state, to_state, COUNT(*) AS n FROM p " +
        "WHERE to_state IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS tt FROM c GROUP BY 1) " +
        "SELECT c.from_state, c.to_state, n, " +
        "CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS p FROM c JOIN t USING (from_state)"),
    "q115_abc_parts" ->
      // revenue is EXACTLY 4-decimal (2dp price x 2dp discount
      // complement), so the DECIMAL(18,4) cum/total sums are exact and
      // the share division + threshold compares are engine-identical
      ("WITH rev AS (SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS grev " +
        "FROM lineitem GROUP BY 1), " +
        "j AS (SELECT p_brand, l_partkey, grev FROM rev JOIN part ON l_partkey = p_partkey), " +
        "s AS (SELECT p_brand, l_partkey, grev, " +
        "CAST(SUM(grev) OVER (PARTITION BY p_brand ORDER BY grev DESC, l_partkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / " +
        "CAST(SUM(grev) OVER (PARTITION BY p_brand) AS DOUBLE) AS cum_share FROM j) " +
        "SELECT p_brand, l_partkey, CAST(grev AS DOUBLE) AS revenue, cum_share, " +
        "CASE WHEN cum_share <= 0.8 THEN 'A' WHEN cum_share <= 0.95 THEN 'B' " +
        "ELSE 'C' END AS abc_class FROM s"),
    "q116_shape_stats" ->
      // raw moments with the SAME cast staging as Exact.rawMoments
      // (x in (12,2), x^2 re-cast to (18,4)) and the SAME closed-form
      // association order — so every double is bit-equal
      ("WITH m AS (SELECT l_returnflag, " +
        "CAST(COUNT(l_discount) AS DOUBLE) AS n, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s1, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s2, " +
        "CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4)) * " +
        "CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s3, " +
        "CAST(SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4)) * " +
        "CAST(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DOUBLE) AS s4, " +
        "COUNT(*) AS cn FROM lineitem GROUP BY 1), " +
        "c AS (SELECT l_returnflag, n, s1 / n AS mu, s2, s3, s4, cn FROM m), " +
        "d AS (SELECT l_returnflag, n, mu, s2 / n - mu * mu AS m2, " +
        "s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3, " +
        "s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n) - 3.0 * mu * mu * mu * mu AS m4, " +
        "cn FROM c) " +
        "SELECT l_returnflag, " +
        "CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew_disc, " +
        "CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt_disc, " +
        "cn AS n FROM d"),
    "q117_rfm_scores" ->
      // DuckDB's ntile returns BIGINT (Spark: INT) -> cast; the
      // monetary ORDERING compares exact decimal sums in both engines
      ("WITH per AS (SELECT c_mktsegment, o_custkey, max(o_orderdate) AS last_ts, " +
        "COUNT(*) AS frequency, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS mon " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
        "s AS (SELECT c_mktsegment, o_custkey, last_ts, frequency, " +
        "CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY last_ts, o_custkey) AS INT) AS r_score, " +
        "CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency, o_custkey) AS INT) AS f_score, " +
        "CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY mon, o_custkey) AS INT) AS m_score, " +
        "CAST(mon AS DOUBLE) AS monetary FROM per) " +
        "SELECT c_mktsegment, o_custkey, last_ts, frequency, r_score, f_score, m_score, monetary, " +
        "CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_cell FROM s"),
    "q118_token_df" ->
      // string_split(text, ' ') mirrors TextFns.tokens (q52's pattern)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "d AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1), " +
        "j AS (SELECT doc_id, df FROM tok JOIN d USING (tok)) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_token_df, " +
        "CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hapax_share " +
        "FROM j GROUP BY 1"),
    "q119_ordered_concat" ->
      ("SELECT p_brand, string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS joined, " +
        "COUNT(p_type) AS n_values FROM part GROUP BY 1"),
    "q120_fk_orphans" ->
      ("WITH pk AS (SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 7 <> 0), " +
        "ok AS (SELECT DISTINCT o_orderkey FROM orders), " +
        "m AS (SELECT COUNT(*) AS n, " +
        "SUM(CASE WHEN pk.p_partkey IS NULL THEN 1 ELSE 0 END) AS g0, " +
        "SUM(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END) AS g1 " +
        "FROM lineitem l LEFT JOIN pk ON l.l_partkey = pk.p_partkey " +
        "LEFT JOIN ok ON l.l_orderkey = ok.o_orderkey) " +
        "SELECT 'part' AS relation, n AS n_rows, CAST(g0 AS BIGINT) AS n_orphans, " +
        "CAST(g0 AS DOUBLE) / n AS orphan_share FROM m " +
        "UNION ALL SELECT 'orders', n, CAST(g1 AS BIGINT), CAST(g1 AS DOUBLE) / n FROM m"),
    "q121_pct_change" ->
      ("WITH mth AS (SELECT c_mktsegment, date_trunc('month', o_orderdate) AS month, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2) " +
        "SELECT c_mktsegment, month, revenue, " +
        "CASE WHEN lag(revenue, 1) OVER w <> 0 THEN " +
        "revenue / lag(revenue, 1) OVER w - 1 END AS pct_change " +
        "FROM mth WINDOW w AS (PARTITION BY c_mktsegment ORDER BY month)"),
    "q122_dow_seasonality" ->
      ("WITH c AS (SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT event_type, CAST(dow AS INT) AS dow, n, " +
        "CAST(n AS DOUBLE) * 7.0 / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS idx FROM c"),
    "q123_ngram_containment" ->
      // q31's gram construction; containment divides by the SELF side
      ("WITH g AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(1, greatest(length(text) - 2, 1) + 1), i -> substr(text, i, 3))) AS gr " +
        "FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(a.gr) AS cont_ab, " +
        "CAST(len(list_intersect(b.gr, a.gr)) AS DOUBLE) / len(b.gr) AS cont_ba " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1"),
    "q124_readability" ->
      // identical counts and the same left-associated IEEE sequence
      ("WITH c AS (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_words, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+', 0)), 1) AS INT) AS n_sentences, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS INT) AS n_syllables " +
        "FROM documents) " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        "CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * " +
        "(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) - CAST(84.6 AS DOUBLE) * " +
        "(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch FROM c"),
    "q125_lag_features" ->
      ("SELECT event_id, user_id, value, " +
        "lag(value, 1) OVER w AS lag_1, lag(value, 2) OVER w AS lag_2, " +
        "lag(value, 7) OVER w AS lag_7, " +
        Seq(7, 28).map(win =>
          s"CASE WHEN COUNT(value) OVER f$win > 0 THEN " +
          s"CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER f$win AS DOUBLE) / " +
          s"COUNT(value) OVER f$win END AS mean_$win").mkString(", ") +
        " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), " +
        Seq(7, 28).map(win =>
          s"f$win AS (PARTITION BY user_id ORDER BY ts, event_id " +
          s"ROWS BETWEEN $win PRECEDING AND 1 PRECEDING)").mkString(", ")),
    "q126_target_encode" ->
      ("SELECT l_orderkey, l_linenumber, l_suppkey, " +
        "CASE WHEN COUNT(l_extendedprice) OVER w > 1 THEN " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER w - " +
        "CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE) / " +
        "(COUNT(l_extendedprice) OVER w - 1) END AS target_enc " +
        "FROM lineitem WINDOW w AS (PARTITION BY l_suppkey)"),
    "q127_session_paths" ->
      // q37's sessionize construction at a 30-minute gap; the path is
      // an ORDERED list slice, deterministic via the event_id tie-break
      ("WITH x AS (SELECT user_id, ts, event_id, event_type, " +
        "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS ns " +
        "FROM events), " +
        "y AS (SELECT user_id, ts, event_id, event_type, " +
        "CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM x) " +
        "SELECT user_id, session_idx, " +
        "array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path, " +
        "COUNT(*) AS n_events, MIN(ts) AS start_ts FROM y GROUP BY 1, 2"),
    "q128_strip_accents" ->
      // DuckDB's NFD-based strip_accents vs graft's translate fold —
      // byte parity over planted Latin-1 Supplement + Extended-A chars
      ("SELECT doc_id, " +
        "strip_accents(translate(text, 'aeiouAEIOUcnszCNSZgty', 'ąėīőůĂĘİŌŰçñšžĆŃŞŻģţÿ')) AS folded, " +
        "strip_accents(translate(text, 'aeiouAEIOUcnszCNSZgty', 'ąėīőůĂĘİŌŰçñšžĆŃŞŻģţÿ')) = text AS roundtrip " +
        "FROM documents"),
    "q129_image_meta" ->
      // the oracle states the PLANTED dimensions; Spark must recover
      // them by actually parsing the container headers it constructed
      ("SELECT doc_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format, " +
        "CAST(n_chars % 1920 + 1 AS INT) AS width, " +
        "CAST(doc_id % 1080 + 1 AS INT) AS height " +
        "FROM documents"),
    "q130_linreg_trend" ->
      // q41's moment discipline: exact decimal sums (22-cast products =
      // DuckDB's int128 trick), closed forms in the identical IEEE
      // sequence, degenerate groups guarded by exact decimal min=max
      // the price² sums exceed 2^53 scaled units, where DuckDB's direct
      // DECIMAL→DOUBLE double-rounds — every sum goes through the
      // VARCHAR detour (strtod parse is correctly rounded, matching
      // Spark's Decimal.toDouble)
      ("WITH m AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(22,4)) * CAST(l_extendedprice AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sxy, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(22,4)) * CAST(l_quantity AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,4)) * CAST(l_extendedprice AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS syy, " +
        "MIN(CAST(l_quantity AS DECIMAL(18,4))) = MAX(CAST(l_quantity AS DECIMAL(18,4))) AS cx, " +
        "MIN(CAST(l_extendedprice AS DECIMAL(18,4))) = MAX(CAST(l_extendedprice AS DECIMAL(18,4))) AS cy " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1) " +
        "SELECT l_returnflag, CAST(n AS BIGINT) AS n, " +
        "CASE WHEN NOT cx THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END AS slope, " +
        "CASE WHEN NOT cx THEN (sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx))*sx)/n END AS intercept, " +
        "CASE WHEN NOT cx AND NOT cy THEN ((n*sxy - sx*sy)*(n*sxy - sx*sy))/((n*sxx - sx*sx)*(n*syy - sy*sy)) END AS r2 " +
        "FROM m"),
    "q131_ks_drift" ->
      // exact-integer sup-difference (Spark DECIMAL(38,0) ≡ DuckDB
      // HUGEINT — both exact, so the argmax and the single final double
      // division agree bit-for-bit)
      ("WITH c AS (SELECT event_type, value AS v, " +
        "SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS ca, " +
        "SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS cb " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT event_type, " +
        "SUM(ca) OVER t AS na, SUM(cb) OVER t AS nb, " +
        "ABS(CAST(SUM(ca) OVER cw AS HUGEINT) * CAST(SUM(cb) OVER t AS HUGEINT) - " +
        "CAST(SUM(cb) OVER cw AS HUGEINT) * CAST(SUM(ca) OVER t AS HUGEINT)) AS diff " +
        "FROM c WINDOW t AS (PARTITION BY event_type), " +
        "cw AS (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)) " +
        "SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b, " +
        "CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN " +
        "CAST(MAX(diff) AS DOUBLE) / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) END AS ks " +
        "FROM w GROUP BY 1"),
    "q132_benford" ->
      // expected-share literals are the DRIVER's doubles, rendered via
      // Java's round-trip Double.toString and re-parsed through the
      // VARCHAR detour (strtod is correctly rounded; DuckDB's direct
      // DECIMAL literal → DOUBLE cast double-rounds) — bit-identical
      // constants by construction
      ("WITH c AS (SELECT o_orderpriority, " +
        "substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS digit, COUNT(*) AS n " +
        "FROM orders WHERE o_totalprice >= 1 GROUP BY 1, 2) " +
        "SELECT o_orderpriority, digit, n, " +
        "CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS share, " +
        s"$benfordCaseSql AS benford, " +
        "ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS DOUBLE) - " +
        benfordCaseSql + ") AS abs_dev FROM c"),
    "q133_seq_gaps" ->
      // the one-window reference form; Spark's two-level plan must
      // produce the identical gap set
      ("WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 13 != 0), " +
        "l AS (SELECT k, LAG(k) OVER (ORDER BY k) AS prev FROM k) " +
        "SELECT prev + 1 AS gap_start, k - 1 AS gap_end, k - prev - 1 AS n_missing " +
        "FROM l WHERE k - prev > 1"),
    "q134_robust_scale" ->
      // quantile_cont ≡ Spark percentile bit-for-bit (q40 parity);
      // subtraction and division are single IEEE ops
      ("WITH b AS (SELECT l_returnflag, " +
        "quantile_cont(l_extendedprice, 0.5) AS med, " +
        "quantile_cont(l_extendedprice, 0.25) AS q1, " +
        "quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem GROUP BY 1) " +
        "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "CASE WHEN b.q3 = b.q1 THEN 0.0 " +
        "ELSE (l.l_extendedprice - b.med) / (b.q3 - b.q1) END AS l_extendedprice " +
        "FROM lineitem l JOIN b USING (l_returnflag)"),
    "q135_ssjoin_prefix" ->
      // the COMPLETE qualifying-pair set over 3-shingle sets (the
      // shared-token candidate form — provably equal to brute force at
      // any positive threshold, see ssjoinDocShinglesSql) — the
      // prefix-filtered plan must reproduce it exactly (no false
      // negatives); thresholds compare exact-integer on both engines;
      // the <3-token CASE mirrors wordShingles' whole-text fallback
      (ssjoinDocShinglesSql +
        "SELECT id_a, id_b, CAST(i AS DOUBLE) / u AS jaccard " +
        "FROM p WHERE i * 2 >= u * 1"),
    "q136_chi2_cells" ->
      // full distinct×distinct grid with zero fills — unobserved cells
      // still contribute e to the statistic
      ("WITH o AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS obs " +
        "FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT g.l_returnflag, g.l_linestatus, COALESCE(o.obs, 0) AS n " +
        "FROM ((SELECT DISTINCT l_returnflag FROM lineitem) " +
        "CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem)) g " +
        "LEFT JOIN o USING (l_returnflag, l_linestatus)) " +
        "SELECT l_returnflag, l_linestatus, n, " +
        "CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE) * " +
        "CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS DOUBLE) / " +
        "CAST(SUM(n) OVER () AS DOUBLE) AS expected, " +
        "(CAST(n AS DOUBLE) - (CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE) * " +
        "CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS DOUBLE) / " +
        "CAST(SUM(n) OVER () AS DOUBLE))) * " +
        "(CAST(n AS DOUBLE) - (CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE) * " +
        "CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS DOUBLE) / " +
        "CAST(SUM(n) OVER () AS DOUBLE))) / " +
        "(CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE) * " +
        "CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS DOUBLE) / " +
        "CAST(SUM(n) OVER () AS DOUBLE)) AS contribution FROM c"),
    "q137_twap" ->
      // exact decimal Σv·Δt and ΣΔt; sums exceed 2^53 scaled units →
      // VARCHAR detour before the one double division
      ("WITH x AS (SELECT event_type, value, " +
        "lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) " +
        "- epoch_us(ts) AS dt FROM events) " +
        "SELECT event_type, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(dt AS DECIMAL(14,0))) AS VARCHAR) AS DOUBLE) / " +
        "CAST(CAST(SUM(CAST(dt AS DECIMAL(14,0))) AS VARCHAR) AS DOUBLE) AS twap, " +
        "COUNT(*) AS n_intervals " +
        "FROM x WHERE dt IS NOT NULL AND value IS NOT NULL GROUP BY 1"),
    "q138_rolling_dau" ->
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "mx AS (SELECT MAX(d) AS mx FROM d), " +
        "e AS (SELECT user_id, " +
        "unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS day FROM d) " +
        "SELECT day, COUNT(DISTINCT user_id) AS n_active " +
        "FROM e, mx WHERE day <= mx GROUP BY 1"),
    "q139_snm_pairs" ->
      // rank-adjacent pairs within brand blocks; DuckDB's
      // jaro_winkler_similarity is bit-equal to graft's codegen scorer
      // on ASCII (the q111 parity)
      ("WITH r AS (SELECT p_brand, p_partkey, p_name, " +
        "ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS rnk " +
        "FROM part) " +
        "SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, " +
        "jaro_winkler_similarity(a.p_name, b.p_name) AS jw " +
        "FROM r a JOIN r b ON a.p_brand = b.p_brand " +
        "AND b.rnk - a.rnk BETWEEN 1 AND 3 " +
        "WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92"),
    "q140_ssjoin_clusters" ->
      // q98's recursive-CTE closure pattern over the BRUTE-FORCE SSJoin
      // pair set (q135's oracle edges)
      (ssjoinDocShinglesSql +
        ", e0 AS (SELECT id_a AS a, id_b AS b FROM p WHERE i * 2 >= u * 1), " +
        "edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) " +
        "SELECT CAST(a AS BIGINT) AS id, CAST(least(a, min(b)) AS BIGINT) AS cluster, " +
        "a = least(a, min(b)) AS is_keeper FROM reach GROUP BY a"),
    "q141_cumulative_distinct" ->
      ("WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "c AS (SELECT day, COUNT(*) AS n_new FROM f GROUP BY 1) " +
        "SELECT day, n_new, " +
        "CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_total " +
        "FROM c"),
    "q142_ab_lift" ->
      // z routed through VARCHAR casts so DuckDB's DECIMAL literals
      // never enter the float math; every op sequence mirrors the
      // Column expression exactly
      ("WITH a AS (SELECT user_id % 2 AS variant, " +
        "COUNT(DISTINCT user_id) AS trials, " +
        "COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS conversions " +
        "FROM events GROUP BY 1) " +
        "SELECT variant, trials, conversions, " +
        "CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) AS rate, " +
        "(CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) " +
        "+ CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / (CAST('2.0' AS DOUBLE) * CAST(trials AS DOUBLE)) " +
        "- CAST('1.96' AS DOUBLE) * sqrt(" +
        "CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) * " +
        "(CAST('1.0' AS DOUBLE) - CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE)) / CAST(trials AS DOUBLE) " +
        "+ CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / " +
        "(CAST('4.0' AS DOUBLE) * CAST(trials AS DOUBLE) * CAST(trials AS DOUBLE)))) / " +
        "(CAST('1.0' AS DOUBLE) + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / CAST(trials AS DOUBLE)) AS wilson_low, " +
        "(CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) " +
        "+ CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / (CAST('2.0' AS DOUBLE) * CAST(trials AS DOUBLE)) " +
        "+ CAST('1.96' AS DOUBLE) * sqrt(" +
        "CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) * " +
        "(CAST('1.0' AS DOUBLE) - CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE)) / CAST(trials AS DOUBLE) " +
        "+ CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / " +
        "(CAST('4.0' AS DOUBLE) * CAST(trials AS DOUBLE) * CAST(trials AS DOUBLE)))) / " +
        "(CAST('1.0' AS DOUBLE) + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / CAST(trials AS DOUBLE)) AS wilson_high " +
        "FROM a"),
    "q143_bigram_lm" ->
      ("WITH t AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT z[1] || ' ' || z[2] AS bigram FROM " +
        "(SELECT unnest(list_zip(w[:len(w)-1], w[2:])) AS z FROM t)), " +
        "c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1), " +
        "s AS (SELECT SUM(n) AS nn, COUNT(*) AS v FROM c) " +
        "SELECT bigram, n, " +
        "CAST(n + 1 AS DOUBLE) / CAST(nn + 1 * v AS DOUBLE) AS prob FROM c, s"),
    "q144_attribution" ->
      ("SELECT event_id, user_id, attributed_source FROM (" +
        "SELECT event_id, user_id, event_type, " +
        "last_value(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_source " +
        "FROM events) WHERE event_type = 'purchase'"),
    "q145_percent_rank" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice, " +
        "percent_rank() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice ASC NULLS FIRST) AS pct_rank FROM lineitem"),
    "q146_degree_stats" ->
      // degree histogram over the brute-force SSJoin edges
      (ssjoinDocShinglesSql +
        ", e AS (SELECT id_a, id_b FROM p WHERE i * 2 >= u * 1), " +
        "d AS (SELECT id, COUNT(*) AS degree FROM " +
        "(SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e) GROUP BY 1) " +
        "SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY 1"),
    "q147_hist2d" ->
      ("WITH b AS (SELECT MIN(l_quantity) AS xlo, MAX(l_quantity) AS xhi, " +
        "MIN(l_extendedprice) AS ylo, MAX(l_extendedprice) AS yhi " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL) " +
        "SELECT CASE WHEN xhi = xlo THEN 0 ELSE " +
        "least(CAST(floor((l_quantity - xlo) * 10 / (xhi - xlo)) AS BIGINT), 9) END AS bx, " +
        "CASE WHEN yhi = ylo THEN 0 ELSE " +
        "least(CAST(floor((l_extendedprice - ylo) * 8 / (yhi - ylo)) AS BIGINT), 7) END AS by, " +
        "COUNT(*) AS cnt FROM lineitem, b " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "GROUP BY 1, 2"),
    "q148_copurchase" ->
      ("WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) " +
        "SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS support " +
        "FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2"),
    "q149_skyline" ->
      // quadratic NOT-EXISTS dominance check — the semantic spec the
      // O(n log n) window plan must reproduce exactly
      ("SELECT p_partkey, p_size, p_retailprice FROM part p1 " +
        "WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM part p2 " +
        "WHERE p2.p_size >= p1.p_size AND p2.p_retailprice >= p1.p_retailprice " +
        "AND (p2.p_size > p1.p_size OR p2.p_retailprice > p1.p_retailprice))"),
    "q150_weighted_median" ->
      ("WITH c AS (SELECT l_returnflag, l_extendedprice AS v, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag) AS tot " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL) " +
        "SELECT l_returnflag, MIN(v) AS wmedian FROM c WHERE cum * 2 >= tot GROUP BY 1"),
    "q151_triangles" ->
      (ssjoinDocShinglesSql +
        ", e AS (SELECT id_a, id_b FROM p WHERE i * 2 >= u * 1) " +
        "SELECT ab.id_a AS id_a, ab.id_b AS id_b, bc.id_b AS id_c " +
        "FROM e ab JOIN e bc ON ab.id_b = bc.id_a " +
        "JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b"),
    "q152_audio_meta" ->
      // the oracle states the PLANTED audio parameters; Spark must
      // recover them by walking the WAV chunks / unpacking the FLAC
      // STREAMINFO bits it constructed
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format, " +
        "CAST(doc_id % 3 + 1 AS INT) AS channels, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS INT) AS bits, " +
        "CAST(n_chars AS BIGINT) AS n_frames FROM documents"),
    "q153_url_canon" ->
      // the oracle states the clean canonical form the messy construct
      // must normalize to
      ("SELECT doc_id, 'http' || CASE WHEN doc_id % 2 = 0 THEN '' ELSE 's' END || " +
        "'://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com/Products/item' || " +
        "CAST(doc_id AS VARCHAR) || '?a=' || CAST(doc_id % 3 AS VARCHAR) || '&z=9' " +
        "AS url_canon FROM documents"),
    "q154_ntile" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice, " +
        "ntile(4) OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket FROM lineitem"),
    "q155_lm_score" ->
      // shared add-1 denominator keeps the mean probability exact-
      // rational: (sum(c)+k) / (k*(N+V)), one double division
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, z[1] || ' ' || z[2] AS bigram FROM " +
        "(SELECT doc_id, unnest(list_zip(w[:len(w)-1], w[2:])) AS z FROM t)), " +
        "c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1), " +
        "s AS (SELECT SUM(n) AS nn, COUNT(*) AS v FROM c), " +
        "d AS (SELECT doc_id, SUM(n) + COUNT(*) AS hits, COUNT(*) AS k " +
        "FROM b JOIN c USING (bigram) GROUP BY 1) " +
        "SELECT doc_id, CAST(hits AS DOUBLE) / CAST(k * (nn + v) AS DOUBLE) " +
        "AS lm_score FROM d, s"),
    "q156_locf" ->
      ("SELECT event_id, user_id, " +
        "last_value(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled " +
        "FROM events"),
    "q157_source_keywords" ->
      // q136's marginal discipline: expected = row*col/grand in one
      // fixed IEEE sequence, computed once per cell and reused
      ("WITH cells AS (SELECT source, token, COUNT(*) AS obs FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) " +
        "WHERE token != '' GROUP BY 1, 2), " +
        "g AS (SELECT SUM(obs) AS grand FROM cells), " +
        "e AS (SELECT source, token, obs, " +
        "CAST(SUM(obs) OVER (PARTITION BY source) AS DOUBLE) * " +
        "CAST(SUM(obs) OVER (PARTITION BY token) AS DOUBLE) / " +
        "CAST(grand AS DOUBLE) AS exp FROM cells, g), " +
        "r AS (SELECT source, token, obs, " +
        "(obs - exp) * (obs - exp) / exp AS contribution FROM e WHERE obs > exp) " +
        "SELECT source, token, obs, contribution FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY contribution DESC, token) AS rn FROM r) WHERE rn <= 5"),
    "q158_l_diversity" ->
      ("WITH g AS (SELECT c_nationkey, c_mktsegment, " +
        "COUNT(DISTINCT c_acctbal) AS ld FROM customer GROUP BY 1, 2) " +
        "SELECT c_custkey, " +
        "CASE WHEN ld < 12 THEN NULL ELSE c.c_nationkey END AS c_nationkey, " +
        "CASE WHEN ld < 12 THEN NULL ELSE c.c_mktsegment END AS c_mktsegment, " +
        "ld < 12 AS qi_suppressed " +
        "FROM customer c JOIN g USING (c_nationkey, c_mktsegment)"),
    "q159_cusum" ->
      // prefix/extrema in exact decimal; the running extrema include
      // the EMPTY prefix (S_0 = 0) via a zero clamp
      ("WITH d AS (SELECT event_type, date_trunc('day', ts) AS day, " +
        "SUM(CAST(value AS DECIMAL(18,4))) - 50 * COUNT(*) AS dev FROM events GROUP BY 1, 2), " +
        "p AS (SELECT event_type, day, dev, " +
        "SUM(dev) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre FROM d), " +
        // zero-clamping must use CASE, not LEAST/GREATEST: DuckDB's
        // LEAST over decimals returns DOUBLE (even decimal-vs-decimal),
        // silently de-exactifying the whole chain
        "m AS (SELECT event_type, day, dev, pre, " +
        "MIN(pre) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn, " +
        "MAX(pre) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx FROM p) " +
        "SELECT event_type, day, CAST(dev AS DOUBLE) AS dev, " +
        "CAST(pre - CASE WHEN mn < 0 THEN mn ELSE CAST(0 AS DECIMAL(38,4)) END AS DOUBLE) AS cusum_pos, " +
        "CAST(CASE WHEN mx > 0 THEN mx ELSE CAST(0 AS DECIMAL(38,4)) END - pre AS DOUBLE) AS cusum_neg " +
        "FROM m"),
    "q160_trimmed_mean" ->
      ("WITH b AS (SELECT l_returnflag, " +
        "quantile_cont(l_extendedprice, 0.05) AS lo, " +
        "quantile_cont(l_extendedprice, 0.95) AS hi " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1) " +
        "SELECT l.l_returnflag, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) " +
        "AS trimmed_mean FROM lineitem l JOIN b USING (l_returnflag) " +
        "WHERE l_extendedprice >= lo AND l_extendedprice <= hi GROUP BY 1"),
    "q161_gini" ->
      // rank x value products exceed 2^53 scaled units -> VARCHAR
      // detour on both sums; the closed form mirrors Spark's exact
      // IEEE sequence
      ("WITH r AS (SELECT l_returnflag, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) " +
        "AS DECIMAL(13,0)) AS rk, CAST(l_extendedprice AS DECIMAL(18,4)) AS xd " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "m AS (SELECT l_returnflag, SUM(rk * xd) AS s1, SUM(xd) AS s0, " +
        "COUNT(*) AS n FROM r GROUP BY 1) " +
        "SELECT l_returnflag, CASE WHEN s0 > 0 THEN " +
        "(2 * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) - " +
        "CAST(n + 1 AS DOUBLE) * CAST(CAST(s0 AS VARCHAR) AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(CAST(s0 AS VARCHAR) AS DOUBLE)) END AS gini FROM m"),
    "q162_hhi" ->
      ("WITH c AS (SELECT event_type, user_id, " +
        "CAST(COUNT(*) AS DECIMAL(18,0)) AS n FROM events GROUP BY 1, 2) " +
        "SELECT event_type, " +
        "CAST(CAST(SUM(n * n) AS VARCHAR) AS DOUBLE) / " +
        "(CAST(CAST(SUM(n) AS VARCHAR) AS DOUBLE) * CAST(CAST(SUM(n) AS VARCHAR) AS DOUBLE)) " +
        "AS hhi FROM c GROUP BY 1"),
    "q163_full_prep" ->
      // the end-to-end training manifest: q55's curation CTE, q99's
      // excerpt flags as an anti-join, q103's hash-split literals
      ("WITH c AS (" + curationOracleSql("") + "), " +
        "e AS (SELECT DISTINCT substr(text, 10, 40) AS excerpt " +
        "FROM documents WHERE doc_id % 97 = 0), " +
        "f AS (SELECT excerpt FROM e WHERE len(excerpt) = 40), " +
        "fl AS (SELECT DISTINCT d.doc_id FROM documents d " +
        "JOIN f ON contains(d.text, f.excerpt)) " +
        "SELECT doc_id, lang, quality, " +
        s"CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8)}' THEN 'train' " +
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8 + 0.1)}' THEN 'val' " +
        "ELSE 'test' END AS split FROM c " +
        "WHERE NOT EXISTS (SELECT 1 FROM fl WHERE fl.doc_id = c.doc_id)"),
    "q164_contribution" ->
      ("WITH p AS (SELECT o_orderpriority, " +
        "SUM(CASE WHEN year(o_orderdate) = 1997 THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS cur, " +
        "SUM(CASE WHEN year(o_orderdate) = 1996 THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS pri " +
        "FROM orders GROUP BY 1), " +
        "d AS (SELECT o_orderpriority, cur, pri, " +
        "COALESCE(cur, CAST(0 AS DECIMAL(18,4))) - COALESCE(pri, CAST(0 AS DECIMAL(18,4))) AS dd FROM p), " +
        "t AS (SELECT SUM(dd) AS tot FROM d) " +
        "SELECT o_orderpriority, CAST(cur AS DOUBLE) AS cur_total, " +
        "CAST(pri AS DOUBLE) AS prior_total, CAST(dd AS DOUBLE) AS delta, " +
        "CASE WHEN tot <> 0 THEN CAST(dd AS DOUBLE) / CAST(tot AS DOUBLE) END AS delta_share " +
        "FROM d, t"),
    "q165_rolling_quantile" ->
      ("SELECT event_id, event_type, value, " +
        "quantile_cont(value, 0.5) OVER (PARTITION BY event_type " +
        "ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "AS rolling_q FROM events"),
    "q166_rank_family" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        "cume_dist() OVER w AS cd FROM lineitem " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice)"),
    "q167_knn_label" ->
      // q32's rank-collapsed cosine order + a deterministic majority
      // vote (count desc, label asc)
      ("WITH nn AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "v AS (SELECT nn.query_id, e.label, COUNT(*) AS n FROM nn " +
        "JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2) " +
        "SELECT query_id, label AS predicted_label FROM (" +
        "SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY n DESC, label) AS rn FROM v) WHERE rn = 1"),
    "q168_embedding_audit" ->
      ("SELECT vec_id, len(embedding) AS n_dims, " +
        "len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan, " +
        "len(list_filter(embedding, x -> isnan(x) OR x <> 0)) = 0 AS all_zero " +
        "FROM embeddings"),
    "q169_decile_lift" ->
      ("WITH b AS (SELECT event_id, value, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p, " +
        "ntile(10) OVER (ORDER BY value DESC, event_id) AS bucket FROM events), " +
        "c AS (SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(p) AS BIGINT) AS n_pos FROM b GROUP BY 1), " +
        "t AS (SELECT SUM(n_rows) AS tn, SUM(n_pos) AS tp FROM c) " +
        "SELECT bucket, n_rows, n_pos, " +
        "CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pos_rate, " +
        "CASE WHEN tp > 0 THEN CAST(n_pos * tn AS DOUBLE) / CAST(n_rows * tp AS DOUBLE) END AS lift " +
        "FROM c, t"),
    "q170_rrf_fusion" ->
      // cosine and inner-product top-20s, fused 1/(60+ra) + 1/(60+rb)
      // — two exact reciprocals in a fixed order, so the fused order
      // is engine-identical (ties on neighbor id)
      ("WITH a AS (SELECT query_id, neighbor_id, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 20), " +
        "b AS (SELECT query_id, neighbor_id, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 20), " +
        "f AS (SELECT query_id, neighbor_id, " +
        "COALESCE(1.0 / (60 + a.rank), 0.0) + COALESCE(1.0 / (60 + b.rank), 0.0) AS s " +
        "FROM a FULL OUTER JOIN b USING (query_id, neighbor_id)) " +
        "SELECT query_id, rank, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, ROW_NUMBER() OVER (" +
        "PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank FROM f) " +
        "WHERE rank <= 5"),
    "q171_knn_confusion" ->
      ("WITH nn AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "v AS (SELECT nn.query_id, e.label, COUNT(*) AS n FROM nn " +
        "JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2), " +
        "pred AS (SELECT query_id, label AS predicted_label FROM (" +
        "SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY n DESC, label) AS rn FROM v) WHERE rn = 1) " +
        "SELECT t.label AS true_label, p.predicted_label, COUNT(*) AS n " +
        "FROM pred p JOIN embeddings t ON t.vec_id = p.query_id GROUP BY 1, 2"),
    "q172_cohens_kappa" ->
      // q171's confusion matrix -> kappa; marginal products in
      // DECIMAL(22,0) (int128 promotion), VARCHAR detour to DOUBLE,
      // one fixed IEEE division sequence
      ("WITH nn AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "v AS (SELECT nn.query_id, e.label, COUNT(*) AS n FROM nn " +
        "JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2), " +
        "pred AS (SELECT query_id, label AS predicted_label FROM (" +
        "SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY n DESC, label) AS rn FROM v) WHERE rn = 1), " +
        "conf AS (SELECT t.label AS true_label, p.predicted_label, COUNT(*) AS n " +
        "FROM pred p JOIN embeddings t ON t.vec_id = p.query_id GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN true_label = predicted_label THEN n ELSE 0 END) AS BIGINT) AS trace FROM conf), " +
        "r AS (SELECT true_label AS lab, CAST(SUM(n) AS DECIMAL(22,0)) AS rt FROM conf GROUP BY 1), " +
        "c2 AS (SELECT predicted_label AS lab, CAST(SUM(n) AS DECIMAL(22,0)) AS ct FROM conf GROUP BY 1), " +
        "p2 AS (SELECT SUM(rt * ct) AS pen FROM r JOIN c2 USING (lab)) " +
        "SELECT n, po, pe, CASE WHEN pe < 1 THEN (po - pe) / (1 - pe) END AS kappa FROM (" +
        "SELECT n, CAST(trace AS DOUBLE) / CAST(n AS DOUBLE) AS po, " +
        "CAST(CAST(pen AS VARCHAR) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe " +
        "FROM tot, p2)"),
    "q173_source_overlap" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "'shared block ' || (doc_id % 7) || chr(10) || text AS text FROM documents), " +
        "l AS (SELECT DISTINCT source, line FROM (" +
        "SELECT source, unnest(string_split(text, chr(10))) AS line FROM d) " +
        "WHERE trim(line) <> '') " +
        "SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared " +
        "FROM l a JOIN l b ON a.line = b.line AND a.source < b.source GROUP BY 1, 2"),
    "q174_boilerplate_strip" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "'banner for ' || source || chr(10) || text || chr(10) || 'footer for ' || source AS text " +
        "FROM documents), " +
        "l AS (SELECT doc_id, source, " +
        "unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos, " +
        "unnest(string_split(text, chr(10))) AS line FROM d), " +
        "b AS (SELECT source, line FROM (" +
        "SELECT source, line, COUNT(DISTINCT doc_id) AS nd FROM l " +
        "WHERE trim(line) <> '' GROUP BY 1, 2) WHERE nd >= 5) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean, " +
        "CAST(COUNT(*) AS INT) AS n_lines FROM l " +
        "WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.source = l.source AND b.line = l.line) " +
        "GROUP BY doc_id"),
    "q175_feature_hashing" ->
      // bucket = first 8 md5 hex digits mod 64 — Spark conv(,16,10) and
      // DuckDB CAST('0x'||hex AS BIGINT) parse the same 32-bit value
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket, " +
        "COUNT(*) AS cnt FROM tok WHERE tok <> '' GROUP BY 1, 2"),
    "q176_dedup_impact" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "CASE WHEN doc_id % 5 = 0 THEN 'common duplicate payload' ELSE text END AS text " +
        "FROM documents), " +
        "r AS (SELECT doc_id, source, text, " +
        "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM d) " +
        "SELECT source, COUNT(*) AS n_docs, CAST(SUM(len(text)) AS BIGINT) AS n_chars, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN len(text) ELSE 0 END) AS BIGINT) AS chars_kept, " +
        "CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_frac " +
        "FROM r GROUP BY 1"),
    "q177_auc_exact" ->
      // 2U = Σ_v pos(v)·(2·cumneg(<v)+neg(v)) exact; products in
      // DECIMAL(22,0) (int128 promotion), VARCHAR detour to DOUBLE,
      // one fixed division sequence (2.0·np)·nn
      ("WITH c AS (SELECT value AS s, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS n " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "cum AS (SELECT p, n, COALESCE(CAST(SUM(n) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cn FROM c), " +
        "t AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg, " +
        "SUM(CAST(p AS DECIMAL(22,0)) * CAST(2*cn + n AS DECIMAL(22,0))) AS u2 FROM cum) " +
        "SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
        "CAST(CAST(u2 AS VARCHAR) AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) " +
        "END AS auc FROM t"),
    "q178_spearman" ->
      // 2·avgrank(v) = 2·cum(<v)+cnt(v)+1; Pearson on doubled ranks via
      // exact decimal moments, VARCHAR detours, fixed IEEE sequence
      ("WITH b AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL), " +
        "rx AS (SELECT x, 2*COALESCE(CAST(SUM(cnt) OVER (ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r2x " +
        "FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1)), " +
        "ry AS (SELECT y, 2*COALESCE(CAST(SUM(cnt) OVER (ORDER BY y " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r2y " +
        "FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1)), " +
        "j AS (SELECT r2x, r2y FROM b JOIN rx USING (x) JOIN ry USING (y)), " +
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(r2x AS DECIMAL(22,0))) AS sx, SUM(CAST(r2y AS DECIMAL(22,0))) AS sy, " +
        "SUM(CAST(r2x AS DECIMAL(22,0)) * CAST(r2y AS DECIMAL(22,0))) AS sxy, " +
        "SUM(CAST(r2x AS DECIMAL(22,0)) * CAST(r2x AS DECIMAL(22,0))) AS sxx, " +
        "SUM(CAST(r2y AS DECIMAL(22,0)) * CAST(r2y AS DECIMAL(22,0))) AS syy FROM j) " +
        "SELECT n, CASE WHEN d1 > 0 AND d2 > 0 THEN num / (sqrt(d1) * sqrt(d2)) END AS rho FROM (" +
        "SELECT n, " +
        "CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS num, " +
        "CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS d1, " +
        "CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - " +
        "CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS d2 FROM m)"),
    "q179_ks_test" ->
      // D numerator |ca·nb − cb·na| exact in DECIMAL; max over the
      // aggregated value frame; one division at the end
      ("WITH c AS (SELECT value AS s, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS b " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "cum AS (SELECT CAST(SUM(a) OVER w AS BIGINT) AS ca, CAST(SUM(b) OVER w AS BIGINT) AS cb " +
        "FROM c WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "t AS (SELECT MAX(ca) AS n_a, MAX(cb) AS n_b FROM cum), " +
        "d AS (SELECT MAX(ABS(CAST(ca AS DECIMAL(22,0)) * CAST(n_b AS DECIMAL(22,0)) - " +
        "CAST(cb AS DECIMAL(22,0)) * CAST(n_a AS DECIMAL(22,0)))) AS dn FROM cum, t) " +
        "SELECT n_a, n_b, CASE WHEN n_a > 0 AND n_b > 0 THEN " +
        "CAST(CAST(dn AS VARCHAR) AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) " +
        "END AS ks FROM t, d"),
    "q180_mix_weights" ->
      // √share is IEEE-correctly-rounded (the reason T is fixed at 2);
      // the normalizer sums DECIMAL(28,18) string images of each √ —
      // order-independent — and the final division round-trips both
      // operands through VARCHAR
      ("WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM c), " +
        "w AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE) AS share, " +
        "CAST(CAST(sqrt(CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE)) AS VARCHAR) AS DECIMAL(28,18)) AS wd " +
        "FROM c, t), " +
        "nrm AS (SELECT SUM(wd) AS s FROM w) " +
        "SELECT source, n_docs, share, " +
        "CAST(CAST(wd AS VARCHAR) AS DOUBLE) / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS weight " +
        "FROM w, nrm"),
    "q181_incremental_dedup" ->
      // semantics = the plain anti-join; the Spark side's bloom filter
      // is a prefilter only and cannot change the result set
      ("WITH base AS (SELECT 'payload ' || (doc_id % 10) AS text FROM documents WHERE doc_id < 100), " +
        "fresh AS (SELECT doc_id, source, " +
        "CASE WHEN doc_id % 4 = 0 THEN 'payload ' || (doc_id % 10) " +
        "ELSE 'fresh ' || doc_id END AS text " +
        "FROM documents WHERE doc_id >= 100) " +
        "SELECT f.doc_id, f.source, f.text FROM fresh f " +
        "WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.text = f.text)"),
    "q182_calibration" ->
      // w = 500/10 = 50.0 is the same literal division in both engines;
      // bin and bin_lo are fixed double sequences; counts exact
      ("SELECT bucket, 0.0 + bucket * 50.0 AS bin_lo, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE) AS pos_rate FROM (" +
        "SELECT event_type, LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INT), 0), 9) AS bucket " +
        "FROM events WHERE value IS NOT NULL) GROUP BY 1"),
    "q183_vocab_growth" ->
      // integer range-bucketing of each token's first doc; cumulative
      // over <= 10 rows; all-integer output
      ("WITH f AS (SELECT tok, MIN(doc_id) AS fd FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY 1), " +
        "b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents), " +
        "g AS (SELECT CAST(((fd - lo) * 10) // (hi - lo + 1) AS INT) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_new_tokens FROM f, b GROUP BY 1) " +
        "SELECT bucket, n_new_tokens, CAST(SUM(n_new_tokens) OVER (ORDER BY bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab FROM g"),
    "q184_unique_words" ->
      ("SELECT doc_id, n_tokens, n_distinct, " +
        "CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS uniq_frac " +
        "FROM (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS n_tokens, " +
        "CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS INT) AS n_distinct " +
        "FROM documents)"),
    "q185_token_budget" ->
      // q180's tempered-weight contract on TOKEN share + two more fixed
      // double steps: alloc = floor(1e6·w), epochs = alloc/available
      ("WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM c), " +
        "w AS (SELECT source, n_docs, n_tokens, " +
        "CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS share, " +
        "CAST(CAST(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS VARCHAR) AS DECIMAL(28,18)) AS wd " +
        "FROM c, t), " +
        "nrm AS (SELECT SUM(wd) AS s FROM w), " +
        "k AS (SELECT source, n_docs, n_tokens, share, " +
        "CAST(CAST(wd AS VARCHAR) AS DOUBLE) / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS weight " +
        "FROM w, nrm), " +
        "a AS (SELECT *, CAST(FLOOR(1000000.0 * weight) AS BIGINT) AS alloc_tokens FROM k) " +
        "SELECT source, n_docs, n_tokens, share, weight, alloc_tokens, " +
        "CASE WHEN n_tokens > 0 THEN CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS epochs " +
        "FROM a"),
    "q186_quality_report" ->
      // q26's per-doc quality verbatim, then exact quantile_cont per
      // source; the quality quantiles narrow to REAL on both engines —
      // the two engines' interpolation sequences differ by 1 double
      // ulp on knife-edge data (seen once at sf1), and the float image
      // absorbs it (sourceQualityReport's doc)
      ("WITH s AS (SELECT source, n_chars, " +
        "len(string_split(text, ' ')) AS n_toks, " +
        s"len(list_filter(string_split(text, ' '), t -> t IN $enStopSql)) AS n_stop " +
        "FROM documents), " +
        "q AS (SELECT source, n_toks, " +
        "0.5::DOUBLE * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) " +
        "+ 0.3::DOUBLE * (CAST(n_stop AS DOUBLE) / greatest(n_toks, 1)) " +
        "+ 0.2::DOUBLE * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS q FROM s) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens, " +
        "quantile_cont(n_toks, 0.5) AS med_tokens, " +
        "CAST(quantile_cont(q, 0.1) AS REAL) AS p10_quality, " +
        "CAST(quantile_cont(q, 0.5) AS REAL) AS p50_quality, " +
        "CAST(quantile_cont(q, 0.9) AS REAL) AS p90_quality FROM q GROUP BY 1"),
    "q187_threshold_sweep" ->
      // the same brute-force pair CTE as q135, swept at three literal
      // cutoffs; jaccard is the identical i/u double in both engines
      (ssjoinDocShinglesSql.replace("WITH RECURSIVE t AS",
        "WITH RECURSIVE th AS (SELECT unnest([0.7, 0.8, 0.9]) AS threshold), t AS") +
        ", j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / u AS s FROM p WHERE i * 10 >= u * 7), " +
        "f AS (SELECT threshold, id_a, id_b FROM j, th WHERE s >= threshold), " +
        "pc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1), " +
        "dc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (" +
        "SELECT DISTINCT threshold, id FROM (" +
        "SELECT threshold, id_a AS id FROM f UNION ALL SELECT threshold, id_b AS id FROM f)) " +
        "GROUP BY 1) " +
        "SELECT threshold, n_pairs, n_docs FROM pc JOIN dc USING (threshold)"),
    "q188_cluster_sizes" ->
      // q140's recursive closure -> per-cluster sizes -> histogram
      (ssjoinDocShinglesSql +
        ", e0 AS (SELECT id_a AS a, id_b AS b FROM p WHERE i * 2 >= u * 1), " +
        "edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a), " +
        "sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM lab GROUP BY 1) " +
        "SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM sz GROUP BY 1"),
    "q189_fd_audit" ->
      ("WITH d AS (SELECT o_custkey, " +
        "CASE WHEN o_orderkey % 101 = 0 THEN 'r_corrupt' " +
        "ELSE 'r' || (o_custkey % 5) END AS region FROM orders) " +
        "SELECT o_custkey, CAST(COUNT(DISTINCT region) AS BIGINT) AS n_dep, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows FROM d GROUP BY 1 " +
        "HAVING COUNT(DISTINCT region) > 1"),
    "q190_changepoint" ->
      // D_i = |n·S_i − i·S| in exact decimals (prefix sums re-cast to
      // DECIMAL(22,4) so the product stays decimal in DuckDB's 38-width
      // cap); argmax by exact comparison, ties to the earlier index;
      // ONE division at the end
      ("WITH p AS (SELECT event_type, " +
        "CAST(ROW_NUMBER() OVER w AS INT) AS i, " +
        "CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER (PARTITION BY event_type " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(22,4)) AS si, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER (PARTITION BY event_type) AS DECIMAL(22,4)) AS s " +
        "FROM events WHERE ts IS NOT NULL " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)), " +
        "d AS (SELECT event_type, n, i, " +
        "ABS(CAST(n AS DECIMAL(12,0)) * si - CAST(i AS DECIMAL(12,0)) * s) AS dd FROM p), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd DESC, i) AS rn FROM d) " +
        "SELECT event_type, n, i AS cp_index, " +
        "CAST(CAST(dd AS VARCHAR) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS score " +
        "FROM r WHERE rn = 1"),
    "q191_trend" ->
      // key-centered x keeps moments in the decimal cap; slope computed
      // once and reused for the intercept — the same fixed sequence as
      // the Spark side
      ("WITH b AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x, value AS y " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "c AS (SELECT event_type, MIN(x) AS x0 FROM b GROUP BY 1), " +
        "z AS (SELECT b.event_type, CAST(b.x - c.x0 AS DECIMAL(12,0)) AS cx, " +
        "CAST(y AS DECIMAL(14,4)) AS dy FROM b JOIN c USING (event_type)), " +
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(cx) AS sx, SUM(dy) AS sy, SUM(cx * dy) AS sxy, SUM(cx * cx) AS sxx FROM z GROUP BY 1), " +
        "k AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd, CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd, " +
        "CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd, CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd FROM m), " +
        "g AS (SELECT event_type, n, nd, sxd, syd, " +
        "nd * sxxd - sxd * sxd AS den, nd * sxyd - sxd * syd AS num FROM k) " +
        "SELECT event_type, n, " +
        "CASE WHEN den > 0 THEN num / den END AS slope, " +
        "CASE WHEN den > 0 THEN (syd - (num / den) * sxd) / nd END AS intercept FROM g"),
    "q192_golden_record" ->
      // q98's recursive closure -> singleton-completing left join ->
      // per-column modal election (count desc, value asc)
      ("WITH RECURSIVE " +
        "b AS (SELECT p_partkey AS id, " +
        "p_name || ' ' || p_brand || ' ' || p_type AS t, " +
        "p_name || chr(1) || p_brand AS blk FROM part), " +
        "e0 AS (SELECT a.id AS a, x.id AS b FROM b a JOIN b x " +
        "ON a.blk = x.blk AND a.id < x.id WHERE levenshtein(a.t, x.t) <= 4), " +
        "edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "lab AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a), " +
        "l2 AS (SELECT p.p_partkey AS id, COALESCE(lab.cluster, p.p_partkey) AS cluster, " +
        "p.p_brand, p.p_type, p.p_size FROM part p LEFT JOIN lab ON lab.id = p.p_partkey), " +
        "base AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members, " +
        "CAST(MIN(id) AS BIGINT) AS keeper_id FROM l2 GROUP BY 1), " +
        "mb AS (SELECT cluster, p_brand FROM (SELECT cluster, p_brand, " +
        "ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY COUNT(*) DESC, p_brand) AS rn " +
        "FROM l2 WHERE p_brand IS NOT NULL GROUP BY cluster, p_brand) WHERE rn = 1), " +
        "mt AS (SELECT cluster, p_type FROM (SELECT cluster, p_type, " +
        "ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY COUNT(*) DESC, p_type) AS rn " +
        "FROM l2 WHERE p_type IS NOT NULL GROUP BY cluster, p_type) WHERE rn = 1), " +
        "ms AS (SELECT cluster, p_size FROM (SELECT cluster, p_size, " +
        "ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY COUNT(*) DESC, p_size) AS rn " +
        "FROM l2 WHERE p_size IS NOT NULL GROUP BY cluster, p_size) WHERE rn = 1) " +
        "SELECT CAST(base.cluster AS BIGINT) AS cluster, n_members, keeper_id, " +
        "p_brand, p_type, p_size FROM base " +
        "LEFT JOIN mb USING (cluster) LEFT JOIN mt USING (cluster) LEFT JOIN ms USING (cluster)"),
    "q193_pct_normalize" ->
      // q26's quality verbatim; cume_dist is the same exact count ratio
      // in both engines, value-deterministic under ties
      ("WITH s AS (SELECT doc_id, source, n_chars, " +
        "len(string_split(text, ' ')) AS n_toks, " +
        s"len(list_filter(string_split(text, ' '), t -> t IN $enStopSql)) AS n_stop " +
        "FROM documents), " +
        "q AS (SELECT doc_id, source, " +
        "0.5::DOUBLE * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) " +
        "+ 0.3::DOUBLE * (CAST(n_stop AS DOUBLE) / greatest(n_toks, 1)) " +
        "+ 0.2::DOUBLE * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS q FROM s) " +
        "SELECT doc_id, source, q, " +
        "cume_dist() OVER (PARTITION BY source ORDER BY q) AS pct FROM q"),
    "q194_autocorr" ->
      // (v, lag v) pair frame per type; decCorr recipe: DECIMAL moments
      // (22,4) factor casts for int128 products), VARCHAR detours, one
      // fixed IEEE closed form
      ("WITH p AS (SELECT event_type, value AS v, " +
        "LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pv " +
        "FROM events WHERE ts IS NOT NULL), " +
        "f AS (SELECT event_type, CAST(v AS DECIMAL(22,4)) AS x, CAST(pv AS DECIMAL(22,4)) AS y " +
        "FROM p WHERE v IS NOT NULL AND pv IS NOT NULL), " +
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, " +
        "SUM(x * x) AS sxx, SUM(y * y) AS syy FROM f GROUP BY 1), " +
        "k AS (SELECT event_type, n_pairs, CAST(n_pairs AS DOUBLE) AS nd, " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd, CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd, " +
        "CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd, " +
        "CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd, CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd FROM m) " +
        "SELECT event_type, n_pairs, " +
        "CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0 THEN " +
        "(nd * sxyd - sxd * syd) / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) " +
        "END AS acf FROM k"),
    "q195_topk_overlap" ->
      // the q170 ranking CTEs at k=5; overlap = |a ∩ b| / 5 exactly
      ("WITH a AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "b AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "c AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common " +
        "FROM a JOIN b USING (query_id, neighbor_id) GROUP BY 1) " +
        "SELECT query_id, COALESCE(n_common, 0) AS n_common, " +
        "CAST(COALESCE(n_common, 0) AS DOUBLE) / 5 AS overlap " +
        "FROM (SELECT DISTINCT query_id FROM a) q LEFT JOIN c USING (query_id)"),
    "q196_pii_density" ->
      // q68's planting CASE + independent per-class regexp counts on the
      // raw text; density = (sum·1000)/tokens in one fixed sequence
      ("WITH s AS (SELECT source, CASE " +
        "WHEN doc_id % 5 = 0 THEN text || ' contact bob@example.com or 10.0.255.7 today' " +
        "WHEN doc_id % 7 = 0 THEN text || ' call (555) 867-5309 now' " +
        "ELSE text END AS text FROM documents), " +
        "c AS (SELECT source, " +
        "len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt, " +
        "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS e, " +
        "len(regexp_extract_all(text, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS i, " +
        "len(regexp_extract_all(text, '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS p " +
        "FROM s) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(e) AS BIGINT) AS n_email, CAST(SUM(i) AS BIGINT) AS n_ipv4, " +
        "CAST(SUM(p) AS BIGINT) AS n_phone, " +
        "CASE WHEN SUM(nt) > 0 THEN " +
        "CAST(SUM(e) + SUM(i) + SUM(p) AS DOUBLE) * 1000.0 / CAST(SUM(nt) AS DOUBLE) " +
        "END AS pii_per_1k FROM c GROUP BY 1"),
    "q197_mrr" ->
      // cosine top-10 (the q170 CTE at k=10); RR = 1/first same-label
      // rank routed through its DECIMAL(28,18) string image so the sum
      // is order-independent; mean is one fixed division
      ("WITH nn AS (SELECT query_id, neighbor_id, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 10), " +
        "fh AS (SELECT nn.query_id, MIN(rank) AS first_hit FROM nn " +
        "JOIN embeddings ql ON ql.vec_id = nn.query_id " +
        "JOIN embeddings nl ON nl.vec_id = nn.neighbor_id " +
        "WHERE ql.label = nl.label GROUP BY 1), " +
        "rr AS (SELECT q.query_id, " +
        "COALESCE(CAST(CAST(1.0 / first_hit AS VARCHAR) AS DECIMAL(28,18)), " +
        "CAST(0 AS DECIMAL(28,18))) AS r " +
        "FROM (SELECT DISTINCT query_id FROM nn) q LEFT JOIN fh USING (query_id)) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, " +
        "CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mrr FROM rr"),
    "q198_freq_spectrum" ->
      ("WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY 1) " +
        "SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM f GROUP BY 1"),
    "q199_welch_t" ->
      // conditional decimal moments in one aggregation; the same fixed
      // sequence as the Spark side: means, clamped moment-form sample
      // variances, se = sqrt(va/na + vb/nb), t = (ma-mb)/se; NULL
      // user_id joins neither cohort
      ("WITH m AS (SELECT event_type, " +
        "CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN value END) AS BIGINT) AS n_a, " +
        "CAST(COUNT(CASE WHEN NOT (user_id % 2 = 0) THEN value END) AS BIGINT) AS n_b, " +
        "SUM(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(22,4)) END) AS sa, " +
        "SUM(CASE WHEN NOT (user_id % 2 = 0) THEN CAST(value AS DECIMAL(22,4)) END) AS sb, " +
        "SUM(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(22,4)) * CAST(value AS DECIMAL(22,4)) END) AS saa, " +
        "SUM(CASE WHEN NOT (user_id % 2 = 0) THEN CAST(value AS DECIMAL(22,4)) * CAST(value AS DECIMAL(22,4)) END) AS sbb " +
        "FROM events GROUP BY 1), " +
        "k AS (SELECT event_type, n_a, n_b, " +
        "CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd, " +
        "CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sad, CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS sbd, " +
        "CAST(CAST(saa AS VARCHAR) AS DOUBLE) AS saad, CAST(CAST(sbb AS VARCHAR) AS DOUBLE) AS sbbd FROM m), " +
        "g AS (SELECT *, " +
        "GREATEST(nad * saad - sad * sad, 0) / (nad * (nad - 1)) AS vva, " +
        "GREATEST(nbd * sbbd - sbd * sbd, 0) / (nbd * (nbd - 1)) AS vvb FROM k), " +
        "h AS (SELECT *, sqrt(vva / nad + vvb / nbd) AS se FROM g) " +
        "SELECT event_type, n_a, n_b, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 THEN " +
        "CASE WHEN se > 0 THEN (sad / nad - sbd / nbd) / se END END AS t_stat FROM h"),
    "q200_split_leakage" ->
      // q103's split thresholds verbatim + q176's planted dups; distinct
      // (split, fp) self-join bounded by |splits|
      (s"WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
        "THEN 'common duplicate payload' ELSE text END AS text FROM documents), " +
        s"s AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8)}' THEN 'train' " +
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
        s"'${graft.operators.Features.weightThresholdHex(0.8 + 0.1)}' THEN 'val' " +
        "ELSE 'test' END AS split, md5(text) AS fp FROM d), " +
        "u AS (SELECT DISTINCT split, fp FROM s) " +
        "SELECT a.split AS split_a, b.split AS split_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM u a JOIN u b ON a.fp = b.fp AND a.split < b.split GROUP BY 1, 2"),
    "q201_psi" ->
      // q182's fixed bin grid + Laplace-smoothed cohort proportions;
      // counts exact, ONE division each, ln image routed through FLOAT
      // (the q70 libm-ulp contract)
      ("WITH b AS (SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INT), 0), 9) AS bin, " +
        "date_part('day', ts) <= 15 AS ina FROM events WHERE value IS NOT NULL), " +
        "c AS (SELECT bin, CAST(COUNT(CASE WHEN ina THEN 1 END) AS BIGINT) AS n_a, " +
        "CAST(COUNT(CASE WHEN NOT ina THEN 1 END) AS BIGINT) AS n_b FROM b GROUP BY 1), " +
        "g AS (SELECT CAST(unnest(range(10)) AS INT) AS bin), " +
        "f AS (SELECT g.bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b " +
        "FROM g LEFT JOIN c USING (bin)), " +
        "t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM f), " +
        "p AS (SELECT bin, n_a, n_b, " +
        "CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE) AS pa, " +
        "CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE) AS pb FROM f, t) " +
        "SELECT bin, 0.0 + bin * 50.0 AS bin_lo, n_a, n_b, " +
        "CAST((pa - pb) * ln(pa / pb) AS FLOAT) AS psi_term FROM p"),
    "q202_cramers_v" ->
      // q136's cells verbatim (expected named once, as Spark reuses the
      // column), contributions decimal-routed so the chi2 sum is
      // order-free; sqrt is IEEE-exact
      ("WITH o AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS obs " +
        "FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT g.l_returnflag, g.l_linestatus, COALESCE(o.obs, 0) AS n " +
        "FROM ((SELECT DISTINCT l_returnflag FROM lineitem) " +
        "CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem)) g " +
        "LEFT JOIN o USING (l_returnflag, l_linestatus)), " +
        "x AS (SELECT l_returnflag, l_linestatus, n, " +
        "CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE) * " +
        "CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS DOUBLE) / " +
        "CAST(SUM(n) OVER () AS DOUBLE) AS expected FROM c), " +
        "cells AS (SELECT l_returnflag, l_linestatus, n, " +
        "(CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected) / expected " +
        "AS contribution FROM x), " +
        "a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_obs, " +
        "CAST(LEAST(COUNT(DISTINCT l_returnflag) - 1, COUNT(DISTINCT l_linestatus) - 1) AS BIGINT) AS dof_min, " +
        "CAST(CAST(SUM(CAST(CAST(contribution AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS chi2 " +
        "FROM cells) " +
        "SELECT n_obs, dof_min, chi2, " +
        "CASE WHEN dof_min > 0 AND n_obs > 0 THEN " +
        "sqrt(chi2 / (CAST(n_obs AS DOUBLE) * CAST(dof_min AS DOUBLE))) END AS cramers_v FROM a"),
    "q203_pmi" ->
      // q143's bigram machinery + two unigram probes; counts exact,
      // operands cast to double BEFORE multiplying (q136 overflow
      // contract), ln image through FLOAT
      ("WITH t AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(w) AS word FROM t) GROUP BY 1), " +
        "n AS (SELECT SUM(c) AS nn FROM uc), " +
        "bc AS (SELECT z[1] AS w1, z[2] AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM " +
        "(SELECT unnest(list_zip(w[:len(w)-1], w[2:])) AS z FROM t) GROUP BY 1, 2), " +
        "k AS (SELECT w1, w2, n_pair FROM bc WHERE n_pair >= 10) " +
        "SELECT w1, w2, n_pair, " +
        "CAST(ln(CAST(n_pair AS DOUBLE) * CAST(nn AS DOUBLE) / " +
        "(CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) AS FLOAT) AS pmi " +
        "FROM k JOIN uc u1 ON k.w1 = u1.word JOIN uc u2 ON k.w2 = u2.word, n"),
    "q204_source_entropy" ->
      // per-token p is exact-ints-to-one-division; each −p·ln(p) term's
      // float image sums via DECIMAL(28,18) (q197 order-free contract)
      ("WITH c AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS v " +
        "FROM c GROUP BY 1), " +
        "e AS (SELECT c.source, SUM(CAST(CAST(CAST(CAST(" +
        "-(CAST(c.c AS DOUBLE) / CAST(t.nn AS DOUBLE)) * " +
        "ln(CAST(c.c AS DOUBLE) / CAST(t.nn AS DOUBLE)) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS h " +
        "FROM c JOIN t USING (source) GROUP BY 1) " +
        "SELECT t.source, t.nn AS n_tokens, t.v AS vocab, " +
        "CAST(CAST(e.h AS VARCHAR) AS DOUBLE) AS entropy_nats " +
        "FROM t JOIN e ON t.source = e.source"),
    "q205_ndcg" ->
      // q197's cosine top-10 CTE; binary gains 1/log2(pos+1) float-
      // absorbed and decimal-summed; ideal positions pack relevant hits
      // at ranks 1..R; no-hit queries contribute exact 0
      ("WITH nn AS (SELECT query_id, neighbor_id, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 10), " +
        "rel AS (SELECT nn.query_id, nn.rank, " +
        "ROW_NUMBER() OVER (PARTITION BY nn.query_id ORDER BY nn.rank) AS ideal " +
        "FROM nn JOIN embeddings ql ON ql.vec_id = nn.query_id " +
        "JOIN embeddings nl ON nl.vec_id = nn.neighbor_id " +
        "WHERE ql.label = nl.label), " +
        "pq AS (SELECT query_id, " +
        "SUM(CAST(CAST(CAST(CAST(CAST(1 AS DOUBLE) / log2(CAST(rank AS DOUBLE) + CAST(1 AS DOUBLE)) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS dcg, " +
        "SUM(CAST(CAST(CAST(CAST(CAST(1 AS DOUBLE) / log2(CAST(ideal AS DOUBLE) + CAST(1 AS DOUBLE)) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS idcg FROM rel GROUP BY 1), " +
        "nd AS (SELECT q.query_id, COALESCE(CAST(CAST(" +
        "CAST(CAST(pq.dcg AS VARCHAR) AS DOUBLE) / CAST(CAST(pq.idcg AS VARCHAR) AS DOUBLE) " +
        "AS VARCHAR) AS DECIMAL(28,18)), CAST(0 AS DECIMAL(28,18))) AS nd " +
        "FROM (SELECT DISTINCT query_id FROM nn) q LEFT JOIN pq USING (query_id)) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, " +
        "CAST(CAST(SUM(nd) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_ndcg FROM nd"),
    "q206_km_survival" ->
      // per-user lifetimes with 7-day censoring; n_risk = total − exact
      // running exits; each ln(1−d/n) float-absorbed into a DECIMAL
      // running sum whose order the window fixes; ONE exp rebuilds S(t)
      ("WITH m AS (SELECT MAX(ts) AS mx FROM events), " +
        "p AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l FROM events GROUP BY 1), " +
        "s AS (SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t, " +
        "l <= mx - INTERVAL 7 DAY AS churned FROM p, m), " +
        "g AS (SELECT t, CAST(COUNT(CASE WHEN churned THEN 1 END) AS BIGINT) AS n_event, " +
        "CAST(COUNT(CASE WHEN NOT churned THEN 1 END) AS BIGINT) AS n_censored FROM s GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_event + n_censored) AS BIGINT) AS tt FROM g), " +
        "r AS (SELECT t, n_event, n_censored, tt - COALESCE(CAST(SUM(n_event + n_censored) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk " +
        "FROM g, tot), " +
        "w AS (SELECT t, n_risk, n_event, n_censored, " +
        "CASE WHEN n_event < n_risk THEN CAST(CAST(CAST(CAST(ln(CAST(1 AS DOUBLE) - " +
        "CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS REAL) AS DOUBLE) AS VARCHAR) " +
        "AS DECIMAL(28,18)) END AS lf, " +
        "MAX(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t) AS hz FROM r) " +
        "SELECT t, n_risk, n_event, n_censored, " +
        "CASE WHEN hz = 1 THEN CAST(0 AS DOUBLE) " +
        "ELSE COALESCE(exp(CAST(CAST(SUM(lf) OVER (ORDER BY t) AS VARCHAR) AS DOUBLE)), " +
        "CAST(1 AS DOUBLE)) END AS survival FROM w"),
    "q207_burstiness" ->
      // df, Σc, Σc² exact; moment-form variance on double-cast operands
      // (q136 overflow contract); VMR is the same fixed sequence — no
      // transcendentals, no float absorb
      ("WITH pd AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY 1, 2), " +
        "m AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df, " +
        "CAST(SUM(c) AS BIGINT) AS n_total, CAST(SUM(c * c) AS BIGINT) AS cc " +
        "FROM pd GROUP BY 1) " +
        "SELECT token, df, n_total, " +
        "((CAST(df AS DOUBLE) * CAST(cc AS DOUBLE) - " +
        "CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) / " +
        "(CAST(df AS DOUBLE) * CAST(df AS DOUBLE))) / " +
        "(CAST(n_total AS DOUBLE) / CAST(df AS DOUBLE)) AS burstiness " +
        "FROM m WHERE df >= 25"),
    "q208_mutual_info" ->
      // observed cells only (empty cells contribute exact 0); marginals
      // via windows over the bounded cells frame; ln through FLOAT and
      // DECIMAL(28,18) images (q70 + q197 contracts)
      ("WITH c AS (SELECT l_returnflag AS a, l_linestatus AS b, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2), " +
        "w AS (SELECT n, " +
        "CAST(SUM(n) OVER (PARTITION BY a) AS DOUBLE) AS rt, " +
        "CAST(SUM(n) OVER (PARTITION BY b) AS DOUBLE) AS ct, " +
        "CAST(SUM(n) OVER () AS DOUBLE) AS gt FROM c), " +
        "t AS (SELECT n, CAST(CAST(CAST(CAST(" +
        "(CAST(n AS DOUBLE) / gt) * ln(CAST(n AS DOUBLE) * gt / (rt * ct)) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18)) AS term FROM w) " +
        "SELECT CAST(SUM(n) AS BIGINT) AS n_obs, " +
        "CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS mi_nats FROM t"),
    "q209_pagerank" -> pageRankSql(5),
    "q210_label_prop" -> labelPropSql(3),
    "q211_weighted_sample" ->
      // u = (first-8-hex + 0.5)/2^32 exact rational (q175 conv↔0x
      // contract); the jitter RANKS as its FLOAT image (q70) with id
      // tie-break; non-positive weights never draw
      ("SELECT source, doc_id, n_chars FROM (" +
        "SELECT source, doc_id, n_chars, ROW_NUMBER() OVER (PARTITION BY source ORDER BY " +
        "CAST(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) " +
        "+ CAST(0.5 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)) / CAST(n_chars AS DOUBLE) AS REAL) ASC, " +
        "doc_id ASC) AS rn " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0) WHERE rn <= 20"),
    "q212_minhash_md5" ->
      // same shingle fragment as q135/q140; md5-derived 60-bit hashes
      // ('0x'-cast, the q175 conv contract) make every signature, band
      // key, and candidate pair engine-reproducible
      ("WITH t AS (SELECT doc_id AS id, " +
        "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
        "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
        "ELSE [array_to_string(w, ' ')] END AS tok " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "e AS (SELECT id, unnest(tok) AS s FROM t), " +
        "h AS (SELECT id, " +
        (0 until 6).map(j =>
          s"min(CAST(('0x' || substr(md5('$j:' || s), 1, 15)) AS BIGINT)) AS h$j")
          .mkString(", ") + " FROM e GROUP BY id), " +
        "b AS (" +
        (0 until 3).map(bn =>
          s"SELECT id, $bn AS band, CAST(h${2 * bn} AS VARCHAR) || ':' || " +
            s"CAST(h${2 * bn + 1} AS VARCHAR) AS key FROM h")
          .mkString(" UNION ALL ") + ") " +
        "SELECT a.id AS id_a, x.id AS id_b, CAST(COUNT(*) AS BIGINT) AS bands_shared " +
        "FROM b a JOIN b x ON a.band = x.band AND a.key = x.key AND a.id < x.id " +
        "GROUP BY 1, 2"),
    "q35_multimodal_meta" ->
      // real oracle for the decode stage: payload = UTF-8 text bytes, so
      // no container magic matches and dims come from the documented
      // deterministic stub formula; brightness = exact byte sum in ONE
      // IEEE division
      ("WITH s AS (SELECT doc_id, octet_length(encode(text)) AS n, " +
        "hex(encode(text)) AS h FROM documents) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS bytes, " +
        "CAST(64 + (CAST(n AS BIGINT) * 2654435761) % 1024 AS INT) AS width, " +
        "CAST(64 + (CAST(n AS BIGINT) * 40503) % 768 AS INT) AS height, " +
        "CASE WHEN n = 0 THEN CAST(0 AS DOUBLE) ELSE " +
        "CAST(list_sum(list_transform(generate_series(1, CAST(n AS INT)), " +
        "i -> CAST(('0x' || substr(h, 2*i-1, 2)) AS BIGINT))) AS DOUBLE) / n END " +
        "AS brightness FROM s"),
    "q213_js_divergence" ->
      // p/q exact-ints-to-one-division; each KL term's ln routes through
      // FLOAT and sums via DECIMAL(28,18) strings (q204 contract); ln2
      // is the shared string literal — no libm call reaches output
      ("WITH c AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY 1, 2), " +
        "g AS (SELECT word, CAST(SUM(c) AS BIGINT) AS g FROM c GROUP BY 1), " +
        "t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM c GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c), " +
        "e AS (SELECT c.source, " +
        "SUM(CAST(CAST(CAST(CAST(" +
        "(CAST(c.c AS DOUBLE) / CAST(t.ns AS DOUBLE)) * " +
        "ln(CAST(2 AS DOUBLE) * (CAST(c.c AS DOUBLE) / CAST(t.ns AS DOUBLE)) / " +
        "((CAST(c.c AS DOUBLE) / CAST(t.ns AS DOUBLE)) + (CAST(g.g AS DOUBLE) / CAST(nn.n AS DOUBLE)))) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS a, " +
        "SUM(CAST(CAST(CAST(CAST(" +
        "(CAST(g.g AS DOUBLE) / CAST(nn.n AS DOUBLE)) * " +
        "ln(CAST(2 AS DOUBLE) * (CAST(g.g AS DOUBLE) / CAST(nn.n AS DOUBLE)) / " +
        "((CAST(c.c AS DOUBLE) / CAST(t.ns AS DOUBLE)) + (CAST(g.g AS DOUBLE) / CAST(nn.n AS DOUBLE)))) " +
        "AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS b, " +
        "CAST(SUM(g.g) AS BIGINT) AS gs " +
        "FROM c JOIN g USING (word) JOIN t USING (source) CROSS JOIN nn GROUP BY 1) " +
        "SELECT e.source, t.ns AS n_tokens, " +
        "CAST(e.gs AS DOUBLE) / CAST(nn.n AS DOUBLE) AS coverage, " +
        "CAST(0.5 AS DOUBLE) * (CAST(CAST(e.a AS VARCHAR) AS DOUBLE) + " +
        "CAST(CAST(e.b AS VARCHAR) AS DOUBLE) + " +
        s"CAST('${graft.operators.Curation.ln2Literal}' AS DOUBLE) * " +
        "(CAST(1 AS DOUBLE) - CAST(e.gs AS DOUBLE) / CAST(nn.n AS DOUBLE))) AS jsd_nats " +
        "FROM e JOIN t USING (source) CROSS JOIN nn"),
    "q214_zipf_slope" ->
      // ln(rank)/ln(count) float-absorbed (q70); float products are
      // EXACT in double; OLS sums over DECIMAL(28,18) strings; q191's
      // fixed IEEE closed form
      ("WITH g AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1), " +
        "k AS (SELECT word, c FROM g ORDER BY c DESC, word ASC LIMIT 100), " +
        "r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word ASC) AS rnk FROM k), " +
        "v AS (SELECT CAST(CAST(ln(CAST(rnk AS DOUBLE)) AS REAL) AS DOUBLE) AS x, " +
        "CAST(CAST(ln(CAST(c AS DOUBLE)) AS REAL) AS DOUBLE) AS y FROM r), " +
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(SUM(CAST(CAST(y AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(SUM(CAST(CAST(x * y AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS sxy, " +
        "CAST(CAST(SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS sxx FROM v), " +
        "s2 AS (SELECT n, CAST(n AS DOUBLE) * sxx - sx * sx AS den, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS num, sx, sy FROM m), " +
        "s3 AS (SELECT n, sx, sy, CASE WHEN den > 0 THEN num / den END AS slope FROM s2) " +
        "SELECT n, slope, CASE WHEN slope IS NOT NULL THEN " +
        "(sy - slope * sx) / CAST(n AS DOUBLE) END AS intercept FROM s3"),
    "q215_macro_f1" ->
      // q171's prediction CTEs -> per-class exact tp/fp/fn, fixed IEEE
      // P/R/F1; macro means sum FLOAT images via DECIMAL(28,18) strings
      // over the non-null classes (both engines' aggregates skip nulls)
      ("WITH nn AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank " +
        "FROM embeddings c JOIN embeddings q ON q.vec_id < 8 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5), " +
        "v AS (SELECT nn.query_id, e.label, COUNT(*) AS n FROM nn " +
        "JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2), " +
        "pred AS (SELECT query_id, label AS predicted_label FROM (" +
        "SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY n DESC, label) AS rn FROM v) WHERE rn = 1), " +
        "conf AS (SELECT t.label AS tl, p.predicted_label AS pl, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM pred p JOIN embeddings t ON t.vec_id = p.query_id GROUP BY 1, 2), " +
        "bt AS (SELECT tl AS label, CAST(SUM(n) AS BIGINT) AS gt FROM conf GROUP BY 1), " +
        "bp AS (SELECT pl AS label, CAST(SUM(n) AS BIGINT) AS gp FROM conf GROUP BY 1), " +
        "dg AS (SELECT tl AS label, CAST(n AS BIGINT) AS tp FROM conf WHERE tl = pl), " +
        "lb AS (SELECT label FROM bt UNION SELECT label FROM bp), " +
        "base AS (SELECT lb.label, COALESCE(bt.gt, 0) AS gt, COALESCE(bp.gp, 0) AS gp, " +
        "COALESCE(dg.tp, 0) AS tp FROM lb LEFT JOIN bt USING (label) " +
        "LEFT JOIN bp USING (label) LEFT JOIN dg USING (label)), " +
        "pc AS (SELECT CAST(label AS VARCHAR) AS label, " +
        "CASE WHEN gp > 0 THEN CAST(tp AS DOUBLE) / CAST(gp AS DOUBLE) END AS \"precision\", " +
        "CASE WHEN gt > 0 THEN CAST(tp AS DOUBLE) / CAST(gt AS DOUBLE) END AS recall FROM base), " +
        "pc2 AS (SELECT label, \"precision\", recall, " +
        "CASE WHEN \"precision\" IS NOT NULL AND recall IS NOT NULL AND \"precision\" + recall > 0 " +
        "THEN CAST(2 AS DOUBLE) * \"precision\" * recall / (\"precision\" + recall) END AS f1 FROM pc) " +
        "SELECT label, \"precision\", recall, f1 FROM pc2 " +
        "UNION ALL SELECT '__macro__', " +
        "CAST(CAST(SUM(CAST(CAST(CAST(CAST(\"precision\" AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(\"precision\") AS DOUBLE), " +
        "CAST(CAST(SUM(CAST(CAST(CAST(CAST(recall AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(recall) AS DOUBLE), " +
        "CAST(CAST(SUM(CAST(CAST(CAST(CAST(f1 AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(f1) AS DOUBLE) " +
        "FROM pc2"),
    "q216_assoc_rules" ->
      // exact supports; confidence/lift are fixed IEEE sequences with
      // the products computed IN double (N*supp overflows int64 at
      // fact scale)
      ("WITH i AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
        "p AS (SELECT a.it AS ia, x.it AS ib, CAST(COUNT(*) AS BIGINT) AS supp " +
        "FROM i a JOIN i x ON a.b = x.b AND a.it < x.it GROUP BY 1, 2 " +
        "HAVING COUNT(*) >= 2), " +
        "s AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS sc FROM i GROUP BY 1), " +
        "nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM i), " +
        "r AS (SELECT ia AS antecedent, ib AS consequent, supp FROM p " +
        "UNION ALL SELECT ib, ia, supp FROM p) " +
        "SELECT r.antecedent, r.consequent, r.supp AS support, " +
        "CAST(r.supp AS DOUBLE) / CAST(sa.sc AS DOUBLE) AS confidence, " +
        "CAST(r.supp AS DOUBLE) * CAST(nb.n AS DOUBLE) / " +
        "(CAST(sa.sc AS DOUBLE) * CAST(sc2.sc AS DOUBLE)) AS lift " +
        "FROM r JOIN s sa ON r.antecedent = sa.it " +
        "JOIN s sc2 ON r.consequent = sc2.it CROSS JOIN nb"),
    "q217_shingle_novelty" ->
      // same shingle fragment as q135/q212; first-seen ids exact, the
      // fraction is one IEEE division
      ("WITH t AS (SELECT doc_id AS id, " +
        "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
        "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
        "ELSE [array_to_string(w, ' ')] END AS tok " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "e AS (SELECT id, unnest(tok) AS s FROM t), " +
        "f AS (SELECT s, CAST(MIN(id) AS BIGINT) AS fs FROM e GROUP BY 1) " +
        "SELECT e.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, " +
        "CAST(COUNT(CASE WHEN f.fs = e.id THEN 1 END) AS BIGINT) AS n_novel, " +
        "CAST(COUNT(CASE WHEN f.fs = e.id THEN 1 END) AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE) AS novelty_frac " +
        "FROM e JOIN f USING (s) GROUP BY 1"),
    "q218_acf_multi" ->
      // q194's decCorr recipe per lag; all five lag columns ride ONE
      // window, the pair frames stack via UNION ALL
      ("WITH p AS (SELECT event_type, value AS v, " +
        (1 to 5).map(l =>
          s"LAG(value, $l) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS l$l")
          .mkString(", ") +
        " FROM events WHERE ts IS NOT NULL), " +
        "u AS (" +
        (1 to 5).map(l =>
          s"SELECT event_type, $l AS lag, v, l$l AS pv FROM p")
          .mkString(" UNION ALL ") + "), " +
        "f AS (SELECT event_type, lag, CAST(v AS DECIMAL(22,4)) AS x, " +
        "CAST(pv AS DECIMAL(22,4)) AS y " +
        "FROM u WHERE v IS NOT NULL AND pv IS NOT NULL), " +
        "m AS (SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, " +
        "SUM(x * x) AS sxx, SUM(y * y) AS syy FROM f GROUP BY 1, 2), " +
        "k AS (SELECT event_type, lag, n_pairs, CAST(n_pairs AS DOUBLE) AS nd, " +
        "CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd, CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd, " +
        "CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd, " +
        "CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd, CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd FROM m) " +
        "SELECT event_type, lag, n_pairs, " +
        "CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0 THEN " +
        "(nd * sxyd - sxd * syd) / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) " +
        "END AS acf FROM k"),
    "q219_good_turing" ->
      // exact shingle spectrum + unit total; r* and unseen mass are
      // fixed IEEE sequences over exact-int operands (q135/q212's
      // shingle fragment; q198's <> '' convention)
      ("WITH t AS (SELECT doc_id AS id, " +
        "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
        "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
        "ELSE [array_to_string(w, ' ')] END AS tok " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "f AS (SELECT tok2, CAST(COUNT(*) AS BIGINT) AS freq FROM (" +
        "SELECT unnest(tok) AS tok2 FROM t) " +
        "WHERE tok2 <> '' GROUP BY 1), " +
        "sp AS (SELECT freq AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM f GROUP BY 1), " +
        "tt AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN r = 1 THEN n_r END) AS BIGINT) AS n1 FROM sp) " +
        "SELECT sp.r, sp.n_r, " +
        "CASE WHEN nx.n_r IS NOT NULL THEN " +
        "CAST(sp.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE) / CAST(sp.n_r AS DOUBLE) END AS r_star, " +
        "CAST(COALESCE(tt.n1, 0) AS DOUBLE) / CAST(tt.n AS DOUBLE) AS unseen_mass " +
        "FROM sp LEFT JOIN sp nx ON nx.r = sp.r + 1 CROSS JOIN tt WHERE sp.r <= 10"),
    "q220_quantize_int8" ->
      // float->double widening is exact; floor-shift rounding and the
      // reconstruction error are fixed IEEE sequences; max-err needs no
      // float summation; the int8 vector compares as its CSV string
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "x AS (SELECT vec_id, unnest(generate_series(0, len(v) - 1)) AS pos, " +
        "unnest(v) AS x FROM e), " +
        "w AS (SELECT vec_id, pos, x, MAX(abs(x)) OVER (PARTITION BY vec_id) AS ma FROM x), " +
        "s AS (SELECT vec_id, pos, x, ma, " +
        "CASE WHEN ma > 0 THEN CAST(127 AS DOUBLE) / ma END AS sc FROM w), " +
        "q1 AS (SELECT vec_id, pos, x, ma, sc, " +
        "CASE WHEN sc IS NOT NULL THEN CAST(floor(x * sc + CAST(0.5 AS DOUBLE)) AS INT) " +
        "ELSE 0 END AS qv FROM s), " +
        "q2 AS (SELECT vec_id, pos, ma, qv, " +
        "CASE WHEN sc IS NOT NULL THEN abs(x - CAST(qv AS DOUBLE) / sc) " +
        "ELSE CAST(0 AS DOUBLE) END AS err FROM q1) " +
        "SELECT vec_id, " +
        "CASE WHEN MAX(ma) > 0 THEN CAST(127 AS DOUBLE) / MAX(ma) END AS scale, " +
        "MAX(err) AS max_err, " +
        "array_to_string(list(qv ORDER BY pos), ',') AS q8 " +
        "FROM q2 GROUP BY 1"),
    "q221_balanced_sample" ->
      // min class count rides as a scalar frame; the draw ranks by the
      // md5 jitter + id tiebreak (q175/q103 contract)
      ("WITH k AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM (" +
        "SELECT COUNT(*) AS n FROM documents GROUP BY source)), " +
        "r AS (SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn " +
        "FROM documents) " +
        "SELECT source, doc_id FROM r, k WHERE rn <= k.k"),
    "q222_centroid_cosine" ->
      // centroid = q72's exact-decimal mean; every dot/norm term
      // float-absorbed + DECIMAL(28,18)-summed; one fixed IEEE cosine
      ("WITH c AS (SELECT label, " +
        "unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings), " +
        "m AS (SELECT label, pos, " +
        "CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
        "/ COUNT(*) AS cm FROM c GROUP BY 1, 2), " +
        "x AS (SELECT vec_id, label, " +
        "unnest(generate_series(0, len(v2) - 1)) AS pos, unnest(v2) AS v FROM (" +
        "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v2 FROM embeddings)), " +
        "j AS (SELECT x.vec_id, x.label, " +
        "SUM(CAST(CAST(CAST(CAST(x.v * m.cm AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS dot, " +
        "SUM(CAST(CAST(CAST(CAST(x.v * x.v AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS nv, " +
        "SUM(CAST(CAST(CAST(CAST(m.cm * m.cm AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS nc " +
        "FROM x JOIN m ON x.label = m.label AND x.pos = m.pos GROUP BY 1, 2) " +
        "SELECT vec_id, label, " +
        "CASE WHEN CAST(CAST(nv AS VARCHAR) AS DOUBLE) > 0 AND CAST(CAST(nc AS VARCHAR) AS DOUBLE) > 0 " +
        "THEN CAST(CAST(dot AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(nv AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(nc AS VARCHAR) AS DOUBLE))) " +
        "END AS cos_centroid FROM j"),
    "q223_minhash_estimate" ->
      // q212's CTEs + per-pair signature equality + exact shingle-set
      // Jaccard (list_intersect on the distinct sets); all divisions
      // are fixed IEEE over exact ints
      ("WITH t AS (SELECT doc_id AS id, " +
        "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
        "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
        "ELSE [array_to_string(w, ' ')] END AS tok " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "e AS (SELECT id, unnest(tok) AS s FROM t), " +
        "h AS (SELECT id, " +
        (0 until 6).map(j =>
          s"min(CAST(('0x' || substr(md5('$j:' || s), 1, 15)) AS BIGINT)) AS h$j")
          .mkString(", ") + " FROM e GROUP BY id), " +
        "b AS (" +
        (0 until 3).map(bn =>
          s"SELECT id, $bn AS band, CAST(h${2 * bn} AS VARCHAR) || ':' || " +
            s"CAST(h${2 * bn + 1} AS VARCHAR) AS key FROM h")
          .mkString(" UNION ALL ") + "), " +
        "p AS (SELECT a.id AS id_a, x.id AS id_b, CAST(COUNT(*) AS BIGINT) AS bands_shared " +
        "FROM b a JOIN b x ON a.band = x.band AND a.key = x.key AND a.id < x.id " +
        "GROUP BY 1, 2), " +
        "q AS (SELECT p.id_a, p.id_b, p.bands_shared, CAST(" +
        (0 until 6).map(j => s"(CASE WHEN ha.h$j = hb.h$j THEN 1 ELSE 0 END)")
          .mkString(" + ") + " AS BIGINT) AS neq " +
        "FROM p JOIN h ha ON ha.id = p.id_a JOIN h hb ON hb.id = p.id_b), " +
        "ex AS (SELECT q.*, len(list_intersect(ta.tok, tb.tok)) AS i, " +
        "len(ta.tok) AS na, len(tb.tok) AS nb " +
        "FROM q JOIN t ta ON ta.id = q.id_a JOIN t tb ON tb.id = q.id_b) " +
        "SELECT id_a, id_b, bands_shared, " +
        "CAST(neq AS DOUBLE) / CAST(6 AS DOUBLE) AS est_jaccard, " +
        "CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS exact_jaccard FROM ex"),
    "q224_pca_power" -> pcaPowerSql(3),
    "q225_template_phrases" ->
      // distinct per-doc shingle sets make df a document count; one
      // IEEE division against the broadcast doc total
      ("WITH t AS (SELECT doc_id AS id, " +
        "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(" +
        "list_zip(w[:len(w)-2], w[2:len(w)-1], w[3:]), " +
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])) " +
        "ELSE [array_to_string(w, ' ')] END AS tok " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "e AS (SELECT id, unnest(tok) AS shingle FROM t), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), " +
        "d AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY 1) " +
        "SELECT shingle, df, CAST(df AS DOUBLE) / CAST(nn.n AS DOUBLE) AS df_frac " +
        "FROM d, nn WHERE CAST(df AS DOUBLE) / CAST(nn.n AS DOUBLE) >= 0.01"),
    "q226_pca_project" ->
      // q224's CTE prefix; each projection term float-absorbed +
      // decimal-summed; NULL loadings (zero variance) stay NULL
      (pcaPowerCtes(3) +
        "SELECT c.vec_id, " +
        "CAST(CAST(SUM(CAST(CAST(CAST(CAST(c.cv * v3.val AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS pc1 " +
        "FROM c JOIN v3 ON c.pos = v3.pos GROUP BY 1"),
    "q227_stratified_split" ->
      // the cut boundaries embed the Scala-computed doubles verbatim
      // (string detour) so floor(n*f) compares the SAME products
      ("SELECT source, doc_id, CASE " +
        s"WHEN rn <= floor(n * CAST('${0.8}' AS DOUBLE)) THEN 'train' " +
        s"WHEN rn <= floor(n * CAST('${0.8 + 0.1}' AS DOUBLE)) THEN 'val' " +
        "ELSE 'test' END AS split FROM (" +
        "SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY source) AS n FROM documents)"),
    "q228_kmeans_lloyd" -> kmeansSql(4, 2),
    "q229_kmeans_quality" -> kmeansQualitySql(4, 2),
    "q230_group_kfold" ->
      // fold = md5(text-fingerprint) mod 5 via the '0x' conv contract
      ("SELECT doc_id, CAST(CAST(('0x' || substr(md5(md5(text)), 1, 8)) AS BIGINT) " +
        "% 5 AS INT) AS fold FROM documents"),
    "q231_contam_spans" ->
      // q99's excerpt fragment; position via strpos, occurrences via
      // the length-delta trick (no regex, so metachars can't misfire)
      ("WITH e AS (SELECT DISTINCT substr(text, 10, 40) AS excerpt " +
        "FROM documents WHERE doc_id % 97 = 0), " +
        "f AS (SELECT excerpt FROM e WHERE len(excerpt) = 40) " +
        "SELECT d.doc_id, f.excerpt, " +
        "CAST(strpos(d.text, f.excerpt) AS BIGINT) AS first_pos, " +
        "CAST(CAST(len(d.text) - len(replace(d.text, f.excerpt, '')) AS DOUBLE) " +
        "/ CAST(len(f.excerpt) AS DOUBLE) AS BIGINT) AS n_occ " +
        "FROM documents d JOIN f ON strpos(d.text, f.excerpt) > 0"),
    "q232_naive_bayes" ->
      // add-1 smoothed log scores: each ln float-absorbed +
      // DECIMAL(28,18)-summed per (doc, class); argmax on the EXACT
      // decimal with the class tiebreak (q210 rule)
      ("WITH tk AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "c AS (SELECT source AS cls, tok, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM tk GROUP BY 1, 2), " +
        "ct AS (SELECT cls, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY 1), " +
        "vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM c), " +
        "dpc AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS nc FROM documents GROUP BY 1), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), " +
        "sc AS (SELECT tk.doc_id, ct.cls, " +
        "SUM(CAST(CAST(CAST(CAST(ln(" +
        "CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / CAST(ct.t + vv.v AS DOUBLE)" +
        ") AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS s " +
        "FROM tk CROSS JOIN ct CROSS JOIN vv " +
        "LEFT JOIN c ON c.cls = ct.cls AND c.tok = tk.tok " +
        "GROUP BY 1, 2), " +
        "pr AS (SELECT dpc.cls, CAST(CAST(CAST(CAST(ln(" +
        "CAST(dpc.nc AS DOUBLE) / CAST(nd.n AS DOUBLE)" +
        ") AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18)) AS p FROM dpc, nd), " +
        "best AS (SELECT doc_id, cls FROM (" +
        "SELECT sc.doc_id, sc.cls, ROW_NUMBER() OVER (PARTITION BY sc.doc_id " +
        "ORDER BY sc.s + pr.p DESC, sc.cls ASC) AS rk " +
        "FROM sc JOIN pr ON pr.cls = sc.cls) WHERE rk = 1) " +
        "SELECT d.doc_id, d.source AS actual, best.cls AS predicted, " +
        "d.source = best.cls AS correct " +
        "FROM documents d JOIN best ON best.doc_id = d.doc_id"),
    "q233_bm25" ->
      // idf float-absorbed; per-term scores fixed IEEE; the per-doc sum
      // and the top-k ordering both on the exact DECIMAL(28,18) image
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1), " +
        "st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n FROM dl), " +
        "qt AS (SELECT tok FROM (SELECT tok, COUNT(*) AS tc FROM tk GROUP BY 1 " +
        "ORDER BY tc DESC, tok ASC LIMIT 3)), " +
        "tf AS (SELECT doc_id, tk.tok, CAST(COUNT(*) AS BIGINT) AS tf " +
        "FROM tk JOIN qt ON qt.tok = tk.tok GROUP BY 1, 2), " +
        "dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "idf AS (SELECT tok, st.n, st.total, " +
        "CAST(CAST(ln((CAST(st.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + CAST(1 AS DOUBLE)) AS REAL) AS DOUBLE) AS idf " +
        "FROM dfq, st), " +
        "pd AS (SELECT tf.doc_id, SUM(CAST(CAST(CAST(CAST(" +
        "idf.idf * (CAST(tf.tf AS DOUBLE) * CAST('2.2' AS DOUBLE)) / " +
        "(CAST(tf.tf AS DOUBLE) + CAST('1.2' AS DOUBLE) * (CAST('0.25' AS DOUBLE) + " +
        "CAST('0.75' AS DOUBLE) * CAST(dl.dl AS DOUBLE) / " +
        "(CAST(idf.total AS DOUBLE) / CAST(idf.n AS DOUBLE))))" +
        " AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS s " +
        "FROM tf JOIN idf ON idf.tok = tf.tok JOIN dl ON dl.doc_id = tf.doc_id " +
        "GROUP BY 1) " +
        "SELECT doc_id, CAST(CAST(s AS VARCHAR) AS DOUBLE) AS bm25, CAST(rk AS INT) AS rank FROM (" +
        "SELECT doc_id, s, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS rk FROM pd) " +
        "WHERE rk <= 10"),
    "q234_nearest_centroid" ->
      // q222's per-(vector, class) cosine recipe fanned out over ALL
      // classes; argmax on the engine-identical doubles, class tiebreak
      ("WITH c AS (SELECT label, " +
        "unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings), " +
        "m AS (SELECT label, pos, " +
        "CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) " +
        "/ COUNT(*) AS cm FROM c GROUP BY 1, 2), " +
        "x AS (SELECT vec_id, " +
        "unnest(generate_series(0, len(v2) - 1)) AS pos, unnest(v2) AS v FROM (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v2 FROM embeddings)), " +
        // norms are summed over EACH SIDE'S OWN full position set (the
        // operator's hoisted vnorm/cnorm — missing positions contribute
        // 0 to the dot), NOT join-restricted: with uniform dims the
        // decimal sums are identical either way (order-free), and with
        // ragged input this is the semantics the operator states
        "vn AS (SELECT vec_id, " +
        "SUM(CAST(CAST(CAST(CAST(x.v * x.v AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS nv " +
        "FROM x GROUP BY 1), " +
        "cn AS (SELECT label AS cl, " +
        "SUM(CAST(CAST(CAST(CAST(m.cm * m.cm AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS nc " +
        "FROM m GROUP BY 1), " +
        "j AS (SELECT x.vec_id, m.label AS cl, " +
        "SUM(CAST(CAST(CAST(CAST(x.v * m.cm AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS dot " +
        "FROM x JOIN m ON x.pos = m.pos GROUP BY 1, 2), " +
        "s AS (SELECT vec_id, cl, " +
        "CASE WHEN CAST(CAST(nv AS VARCHAR) AS DOUBLE) > 0 AND CAST(CAST(nc AS VARCHAR) AS DOUBLE) > 0 " +
        "THEN CAST(CAST(dot AS VARCHAR) AS DOUBLE) / " +
        "(sqrt(CAST(CAST(nv AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(nc AS VARCHAR) AS DOUBLE))) " +
        "END AS cs FROM j JOIN vn USING (vec_id) JOIN cn USING (cl)), " +
        "best AS (SELECT vec_id, cl FROM (SELECT vec_id, cl, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC NULLS LAST, cl ASC) AS rk " +
        "FROM s) WHERE rk = 1) " +
        "SELECT e.vec_id, e.label AS actual, best.cl AS predicted, " +
        "e.label = best.cl AS correct " +
        "FROM embeddings e JOIN best ON best.vec_id = e.vec_id"),
    "q235_funnel_latency" ->
      // exact epoch-µs gaps; quantile_cont is bit-equal to Spark's
      // percentile (q40 contract)
      ("WITH t0 AS (SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "g AS (SELECT e.user_id, MIN(epoch_us(e.ts)) - MAX(t0.t0) AS gap " +
        "FROM events e JOIN t0 ON t0.user_id = e.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t0.t0 GROUP BY 1) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_converted, " +
        "quantile_cont(gap, 0.5) AS p50_us, quantile_cont(gap, 0.9) AS p90_us FROM g"),
    "q236_theil_sen" ->
      // pairwise slopes: exact-decimal y differences widen via the
      // VARCHAR detour, exact-long x differences, one IEEE division
      // each; median = quantile_cont (q40 contract)
      ("WITH mth AS (SELECT c_mktsegment, date_trunc('month', o_orderdate) AS month, " +
        "SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
        "b AS (SELECT c_mktsegment, year(month) * 12 + month(month) AS x, revenue AS y FROM mth), " +
        "p AS (SELECT a.c_mktsegment, " +
        "CAST(CAST(bb.y - a.y AS VARCHAR) AS DOUBLE) / CAST(bb.x - a.x AS DOUBLE) AS slope " +
        "FROM b a JOIN b bb ON a.c_mktsegment = bb.c_mktsegment AND a.x < bb.x) " +
        "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "quantile_cont(slope, 0.5) AS slope FROM p GROUP BY 1"),
    "q237_logistic_gd" ->
      (logisticCtes(3) +
        "SELECT 'bias' AS feature, w0 AS weight FROM w3t " +
        "UNION ALL SELECT 'x_qty', w1 FROM w3t " +
        "UNION ALL SELECT 'x_disc', w2 FROM w3t"),
    "q238_logistic_eval" ->
      (logisticCtes(3) +
        ", sc AS (SELECT d.y, " +
        "CAST(CAST(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + " +
        "exp(-(w.w0 + w.w1 * d.x1 + w.w2 * d.x2))) AS REAL) AS DOUBLE) AS s " +
        "FROM d CROSS JOIN w3t w) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN (s >= 0.5) = (y = 1) THEN 1 END) AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE) AS accuracy, " +
        // ln args clamped into [1e-7, 1-1e-7] EXACTLY as the Spark
        // operator does (exact IEEE literals + greatest/least on
        // doubles): ln(0) is NULL in Spark but an ERROR here
        "CAST(CAST(SUM(CAST(CAST(CAST(CAST(" +
        "-(y * ln(GREATEST(LEAST(s, CAST(1 AS DOUBLE) - CAST('1e-7' AS DOUBLE)), CAST('1e-7' AS DOUBLE))) + " +
        "(CAST(1 AS DOUBLE) - y) * ln(CAST(1 AS DOUBLE) - " +
        "GREATEST(LEAST(s, CAST(1 AS DOUBLE) - CAST('1e-7' AS DOUBLE)), CAST('1e-7' AS DOUBLE))))" +
        " AS REAL) AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE) AS logloss FROM sc"),
    "q239_vocab_coverage" ->
      // exact counts, running sums, and an all-integer threshold test
      ("WITH c AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT source, c, " +
        "ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, word ASC) AS rk, " +
        "SUM(c) OVER (PARTITION BY source ORDER BY c DESC, word ASC " +
        "ROWS UNBOUNDED PRECEDING) AS cum, " +
        "SUM(c) OVER (PARTITION BY source) AS tot FROM c) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN rk END) AS BIGINT) AS tokens_for_90pct " +
        "FROM r GROUP BY 1"),
    "q240_interarrival" ->
      // exact µs lag gaps; quantile_cont == percentile (q40 contract)
      ("WITH g AS (SELECT event_type, " +
        "epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY event_type " +
        "ORDER BY epoch_us(ts), event_id) AS gap FROM events WHERE ts IS NOT NULL) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
        "quantile_cont(gap, 0.5) AS p50_us, quantile_cont(gap, 0.9) AS p90_us " +
        "FROM g WHERE gap IS NOT NULL GROUP BY 1"),
    "q241_simhash_md5" ->
      // md5-derived 60-bit token hashes ('0x'-cast, the q175/q212 conv
      // contract); integer votes, bit builds, 15-bit chunk keys, and
      // bit_count(xor) Hamming are all exact — every candidate pair
      // engine-reproducible
      ("WITH e AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "h AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM e), " +
        "v AS (SELECT id, " +
        (0 until 60).map(j =>
          s"SUM(CASE WHEN ((hv >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS v$j")
          .mkString(", ") +
        " FROM h GROUP BY id), " +
        "s AS (SELECT id, " +
        (0 until 60).map(j =>
          s"(CASE WHEN v$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ") +
        " AS sig FROM v), " +
        "c AS (SELECT id, sig, ch, (sig >> (ch * 15)) & 32767 AS val " +
        "FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS ch) g), " +
        "p AS (SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.sig, b.sig)) AS hm " +
        "FROM c a JOIN c b ON a.ch = b.ch AND a.val = b.val AND a.id < b.id) " +
        "SELECT DISTINCT id_a, id_b, CAST(hm AS INT) AS hamming FROM p WHERE hm <= 3"),
    "q242_hyperplane_md5" ->
      // md5-PARITY Rademacher planes; each signed float component routes
      // through its VARCHAR image into DECIMAL(28,18) so the dot-product
      // SIGN (the only thing a bucket reads) is order-free and
      // engine-identical; buckets and pair counts are exact integers
      ("WITH x AS (SELECT vec_id AS id, " +
        "unnest(generate_series(0, len(embedding) - 1)) AS pos, " +
        "unnest(embedding) AS v FROM embeddings), " +
        "tj AS (SELECT t.t, j.j FROM (SELECT unnest(generate_series(0, 1)) AS t) t " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j), " +
        // the CASE is FLOAT — widen to DOUBLE before the VARCHAR image
        // (Spark's absorb is float->double->string: the double-shortest
        // rendering, 17 digits, NOT the float-shortest 9; a bare
        // FLOAT->VARCHAR here would sum different decimals and could
        // flip a knife-edge dot sign between engines)
        "d AS (SELECT id, t, j, SUM(CAST(CAST(CAST(CASE WHEN " +
        "(CAST(('0x' || substr(md5(CAST(t AS VARCHAR) || ':' || CAST(j AS VARCHAR) " +
        "|| ':' || CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 2) = 1 " +
        "THEN v ELSE -v END AS DOUBLE) AS VARCHAR) AS DECIMAL(28,18))) AS dot " +
        "FROM x CROSS JOIN tj GROUP BY 1, 2, 3), " +
        "b AS (SELECT id, t, SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) " +
        "ELSE CAST(0 AS BIGINT) END) AS bucket FROM d GROUP BY 1, 2) " +
        "SELECT a.id AS id_a, q.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_tables " +
        "FROM b a JOIN b q ON a.t = q.t AND a.bucket = q.bucket AND a.id < q.id " +
        "GROUP BY 1, 2"),
    "q243_video_meta" ->
      // the oracle states the PLANTED box-walk values; Spark must
      // recover them by actually parsing the ISO-BMFF container it
      // constructed (q129/q152 convention)
      ("SELECT doc_id, 'mp4' AS format, " +
        "CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' ELSE 'avc1' END AS brand, " +
        "CAST(600 + doc_id % 1000 AS INT) AS timescale, " +
        "CAST(n_chars % 4000000 AS BIGINT) * 1000 AS duration, " +
        "CAST(doc_id % 3 + 1 AS INT) AS n_tracks " +
        "FROM documents"),
    "q244_frame_sample" ->
      // the oracle replays the planted clock: dur_ms = duration*1000
      // DIV timescale, instants every second capped at 12 — all exact
      // integer floor arithmetic ('//' == Spark DIV on non-negatives)
      ("WITH m AS (SELECT doc_id, CAST(600 + doc_id % 1000 AS BIGINT) AS ts, " +
        "CAST(n_chars % 4000000 AS BIGINT) * 1000 AS dur FROM documents), " +
        "d AS (SELECT doc_id, (dur * 1000) // ts AS dur_ms FROM m), " +
        "f AS (SELECT doc_id, unnest(generate_series(0, LEAST(dur_ms // 1000, 11))) AS frame_idx FROM d) " +
        "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, " +
        "CAST(frame_idx * 1000 AS BIGINT) AS ts_ms FROM f"),
    "q245_rank_family_ties" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        "cume_dist() OVER w AS cd FROM lineitem " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)"),
    "q246_percent_rank_ties" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, " +
        "percent_rank() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_quantity ASC NULLS FIRST) AS pct_rank FROM lineitem"),
  )
}
