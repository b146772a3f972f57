package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deliberate parallelism for COMPUTE-heavy stages over BYTE-light
 * frames.
 *
 * Spark sizes stages by bytes twice: scans split files by
 * `maxPartitionBytes` (and a single-row-group parquet file cannot split
 * at all — the bench tables are exactly that), and AQE coalesces
 * post-shuffle partitions by `advisoryPartitionSizeInBytes`. Both are
 * blind to per-row COMPUTE, so a stage that explodes each row into
 * hundreds of md5/levenshtein/decimal-string terms lands on 1-3 tasks
 * while the other cores idle — profiled at sf0.1 as the dominant cost
 * of the minhash, fuzzy-linkage, shingle-stats, centroid and
 * gradient-descent families (single-task jobs of 1-8 s inside 2-13 s
 * queries).
 *
 * [[spread]] inserts one explicit hash repartition — user-specified
 * partitioning is exempt from AQE coalescing — keyed by a DETERMINISTIC
 * column (never round-robin where a retry could reassign rows,
 * SPARK-38388), sized by the leaf-stats row estimate: `rowsPerPart`
 * input rows per task calibrated to the operator's per-row cost,
 * clamped to the [cores, 16× cores] envelope ([[Gates.width]]). The
 * shuffle it adds moves only the projected input rows once — orders of
 * magnitude below the work it parallelizes; at scale the estimate grows
 * the width up to the cap instead of pinning a local-mode constant.
 */
object Par {

  /** Partition count for a compute-heavy stage over `df`: one task per
   *  `rowsPerPart` rows of [[RangeRank.estLeafRows]], clamped to
   *  [cores, 16×cores]. */
  def widthFor(df: DataFrame, rowsPerPart: Long): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    Gates.width(cores, RangeRank.estLeafRows(df), rowsPerPart, cores)
  }

  /** Hash-repartition `df` on `key` to [[widthFor]] partitions so the
   *  downstream compute-heavy projection/aggregation parallelizes —
   *  UNLESS the frame is already at least that wide (a multi-file scan
   *  at scale needs no help, and the skip spares its shuffle).
   *  Result-neutral by construction: placement only — callers' sums
   *  are order-free decimals, mins/counts, or keyed aggregations. */
  def spread(df: DataFrame, key: Column, rowsPerPart: Long): DataFrame = {
    val want = widthFor(df, rowsPerPart)
    if (df.rdd.getNumPartitions >= want) df
    else df.repartition(want, key)
  }
}
