package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

/**
 * Typed table catalog over a scale-factor directory of parquet files.
 *
 * Mirrors the reference's ingest stage (reference dag.py:23-57 stages CSVs
 * to a local dir) re-expressed as columnar parquet scans: projection and
 * predicates are pushed into the scan by Catalyst, so at 100 TB an operator
 * that needs 2 columns reads 2 column chunks, not the whole table.
 */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  /**
   * The events table's timestamps arrive in whatever physical form the
   * generator chose — nanosecond int64 (older drops; Spark's vectorized
   * reader rejects ns columns unless `nanosAsLong` reads them as raw
   * longs — see [[Tables.configure]]), or naive microsecond timestamps
   * (current drops; Spark surfaces them as TIMESTAMP_NTZ). Normalize
   * BOTH to a session-zone microsecond TimestampType: the session is
   * pinned to UTC ([[graft.Sessions]]), so the NTZ→TZ cast keeps the
   * microsecond values bit-identical to DuckDB's naive read, and the
   * ns→µs truncation is the same one DuckDB and Arrow apply.
   */
  private def withNanoTimestamp(name: String, tsCols: String*): DataFrame = {
    // fail actionably BEFORE the read: without the conf, an ns-typed
    // file rejects with an opaque vectorized-reader error
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      s"table '$name' may carry nanosecond timestamps; build the session " +
        "via graft.sources.Tables.configure(builder) (or set " +
        "spark.sql.legacy.parquet.nanosAsLong=true) before reading it")
    val df = table(name)
    tsCols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, col(c).cast("timestamp"))
        case _ => d
      }
    }
  }

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def events: DataFrame    = withNanoTimestamp("events", "ts")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** Session confs the catalog's tables require. Applied at session BUILD
   *  time via [[configure]] — constructing a `Tables` has no side
   *  effects, so a second consumer of a shared session is never
   *  surprised by a conf it didn't set. */
  val requiredConfs: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply every catalog-required conf to a session builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    requiredConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}

/**
 * File-format adapters matching the reference's ingest options
 * (reference dag.py:47 reads `;`-delimited latin1 CSV).
 */
object Sources {
  /**
   * CSV reader with the reference's dialect knobs (sep/encoding/header).
   *
   * Schema discipline at scale: `inferSchema` costs a FULL extra pass
   * over the files before the real read — at 100 TB that doubles the
   * ingest. Pass an explicit `schema` (zero extra scans) for production
   * reads; `inferSchema = true` is an explicit opt-in for small/ad-hoc
   * files. With neither, columns come back as strings (Spark's
   * scan-free CSV default), which at least never silently double-reads.
   */
  def csv(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      encoding: String = "UTF-8",
      header: Boolean = true,
      schema: Option[StructType] = None,
      inferSchema: Boolean = false): DataFrame = {
    val r = spark.read
      .option("sep", sep)
      .option("encoding", encoding)
      .option("header", header.toString)
    schema.fold(r.option("inferSchema", inferSchema.toString))(r.schema).csv(path)
  }

  /**
   * CSV ingest with malformed-row quarantine: rows that fit `schema`
   * parse normally; rows that don't (wrong arity, bad types) land in a
   * quarantine frame carrying the RAW line — the production ingest
   * contract where a feed glitch must neither kill the job (FAILFAST)
   * nor silently vanish (DROPMALFORMED). Returns (good, quarantined).
   *
   * The parsed frame is persisted before splitting: Spark refuses
   * filters that reference ONLY the internal corrupt-record column on a
   * lazy CSV scan (it would have to re-parse, and the re-parse could
   * disagree), and the persist also means the file is parsed once for
   * both outputs. The cache is caller-owned ([[graft.Caches.persist]]):
   * `release()` it when done with both frames.
   */
  def csvQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType,
      sep: String = ",",
      header: Boolean = false): QuarantinedCsv = {
    val corrupt = "_corrupt_record"
    val withCorrupt = schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val parsed = spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(withCorrupt)
      .csv(path)
      .transform(graft.Caches.persist)
    QuarantinedCsv(
      good = parsed.filter(col(corrupt).isNull).drop(corrupt),
      quarantined = parsed.filter(col(corrupt).isNotNull)
        .select(col(corrupt).as("raw_line")),
      parsed = parsed)
  }

  /** [[csvQuarantine]] result: the two split frames plus the persisted
   *  parse both derive from — `release()` when done with both. */
  final case class QuarantinedCsv(
      good: DataFrame, quarantined: DataFrame, parsed: DataFrame) {
    def release(): Unit = graft.Caches.release(parsed)
  }

  /** JSON-lines reader (schema-on-read for semi-structured columns). */
  def jsonLines(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /**
   * ORC reader — the other columnar interchange format warehouses
   * standardize on. Spark's native ORC source honors the same
   * pushdown/pruning contract as parquet (predicates and column
   * selection reach the reader; directory partitions prune), so every
   * graft operator is format-agnostic over it.
   */
  def orc(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).orc(path)
  }

  /** ORC writer with optional directory partitioning (same partition
   *  pruning semantics as the parquet layout the catalog reads). */
  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /**
   * XML reader over Spark 4's BUILT-IN xml source (the former
   * spark-xml package, merged into spark-sql): one row per `rowTag`
   * element. Schema inference costs a full extra pass exactly like
   * CSV/JSON — pass an explicit schema on anything production-sized.
   */
  def xml(spark: SparkSession, path: String, rowTag: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    schema.fold(r)(r.schema).load(path)
  }

  /** XML writer (one `rowTag` element per row under `rootTag`). */
  def writeXml(df: DataFrame, path: String, rowTag: String,
      rootTag: String = "rows"): Unit =
    df.write.mode("overwrite").format("xml")
      .option("rowTag", rowTag).option("rootTag", rootTag).save(path)

  /**
   * Raw-asset reader for multimodal ingest: each file (image/audio/
   * video/any blob) becomes one row of (path, modificationTime, length,
   * content BINARY) — the ingest edge that feeds
   * [[graft.operators.Multimodal]]'s binary-column pipeline. Spark's
   * `binaryFile` source is distributed and pushdown-aware in the ways a
   * blob scan can be: `pathGlobFilter` prunes by name pattern at
   * listing time, and a filter on `length` is pushed to skip oversized
   * blobs WITHOUT reading their bytes (only `content` is lazily
   * loaded). `maxBytes` guards the executor heap: one decoded asset
   * must fit in task memory, so it is enforced as a pushed filter, not
   * a post-read drop.
   */
  def binaryFiles(
      spark: SparkSession, path: String,
      glob: Option[String] = None,
      maxBytes: Long = 256L << 20): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g))
      .load(path)
      .filter(col("length") <= maxBytes)
  }

  /**
   * Bucketed table write: pre-partitions (and optionally sorts) the data
   * by the join/aggregation key at write time, so later equi-joins and
   * group-bys between tables bucketed on the same key run with ZERO
   * shuffle — the 100 TB answer to a fact table that is joined on the
   * same key every day. Bucketed tables require the session catalog
   * (`saveAsTable`), not a bare path.
   */
  def writeBucketed(
      df: DataFrame, tableName: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // overwrite must also cover the cross-JVM case: the warehouse
    // location outlives an in-memory catalog, and saveAsTable refuses
    // an UNREGISTERED existing location — drop both the catalog entry
    // and any stale files before writing
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tableName)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /**
   * Small-file compaction: rewrite a parquet directory into
   * ceil(bytes / targetBytes) files. Streaming sinks and incremental
   * appends accrete thousands of KB-scale files; at warehouse scale the
   * per-file open/footer overhead then dominates scan time and the
   * NameNode/object-store listing becomes the bottleneck — periodic
   * compaction is the standard fix. `coalesce`, not `repartition`:
   * merging down needs no shuffle (and when the target exceeds the
   * current partition count it degrades to a no-op rather than
   * splitting). Writes to a NEW directory — atomic dir swap is the
   * caller's (or the table format's) concern, not a library side
   * effect.
   */
  def compact(
      spark: SparkSession, srcDir: String, destDir: String,
      targetBytes: Long = 128L << 20): Unit = {
    val path = new org.apache.hadoop.fs.Path(srcDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(path).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(srcDir).coalesce(parts)
      .write.mode("overwrite").parquet(destDir)
  }

  /**
   * JDBC sink for the reference's warehouse load stage (reference
   * dag.py:290-445 row-wise INSERTs into Postgres). Spark-first
   * equivalent: a single distributed `write.jdbc` with batched inserts —
   * no driver-side row loop; every partition loads in parallel.
   * Exercised end-to-end against embedded Derby in SourcesSpec.
   */
  def jdbcWriter(
      df: DataFrame,
      url: String,
      tableName: String,
      user: String,
      password: String,
      batchSize: Int = 10000,
      driver: Option[String] = None) = {
    val w = df.write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", tableName)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize.toString)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("append")
    driver.fold(w)(d => w.option("driver", d))
  }

  /**
   * JDBC source read. `extra` passes through Spark's partitioned-read
   * knobs (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`) —
   * without them the read is a single partition, which is only acceptable
   * for small dimension pulls.
   */
  def jdbc(
      spark: SparkSession,
      url: String,
      tableName: String,
      user: String = "",
      password: String = "",
      driver: Option[String] = None,
      extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", tableName)
      .option("user", user)
      .option("password", password)
      .options(extra)
    driver.fold(r)(d => r.option("driver", d)).load()
  }
}
