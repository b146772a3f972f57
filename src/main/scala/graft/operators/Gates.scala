package graft.operators

import org.apache.spark.sql.SparkSession

/**
 * The size gates and the partition-width rule, each declared once.
 *
 * A gate is a row/byte/edge bar that switches an operator between its
 * bench-scale plan and its scale plan. Every gate resolves the same
 * way: the session conf key, then the environment alias, then the
 * default. The alias is derived from the key by one rule
 * ([[envName]]: `graft.loop.aqeOffEdges` ↔
 * `SPARK_GRAFT_LOOP_AQE_OFF_EDGES`), so setting every alias to 0
 * forces every gated operator onto its scale branch at any data size.
 */
object Gates {

  final case class Gate(key: String, default: Long) {
    def env: String = envName(key)
  }

  /** Rank/quantile consumers switch to the bucketed range path at this
   *  Catalyst byte estimate ([[RangeRank.useBucketed]]). */
  val RankRangeBytes = Gate("graft.rank.rangeBytes", 256L << 20)
  /** ...or at this leaf-anchored row estimate: half the byte gate's
   *  implied cutover at a typical ~64 B row width (256 MiB / 64 B = 4 M),
   *  because the estimate under-counts parquet rows by the compression
   *  ratio (measured 3-4x — sf10 events estimate 2.46 M for 10 M actual
   *  rows). At sf1 the largest narrow-frame estimate is 1.84 M (under),
   *  at sf0.1 0.19 M. Also the bar of [[RangeRank.manyLeafRows]]. */
  val RankRangeRows = Gate("graft.rank.rangeRows", 2L << 20)
  /** The tie-invariant rank map-back ([[RangeRank.TieRank.mapBack]],
   *  for rankFamily and percentRankScale) broadcasts its ranked value
   *  frame while the distinct bound × row width fits this many bytes,
   *  and hash-joins it above. */
  val RankBroadcastBytes = Gate("graft.rank.broadcastBytes", 64L << 20)
  /** SSJoin-family verify joins hash-build the sets side, and the
   *  vocabulary takes the order-iso range id, from this input row
   *  estimate on. */
  val SsjoinHashRows = Gate("graft.ssjoin.hashRows", 400000L)
  /** Connected components contracts its edge frame above this many
   *  directed edges. */
  val CcContractMinEdges = Gate("graft.cc.contractMinEdges", 1000000L)
  /** Iterative graph loops run their narrow regime (AQE off, static
   *  loop width, edges re-laid on the loop key, hash hints) below this
   *  many counted loop edge rows: connected components counts directed
   *  edges, pageRank normalized edges. Read only by the loop entry,
   *  [[graft.Sessions.withLoop]]; 0 forces the AQE regime. */
  val LoopAqeOffEdges = Gate("graft.loop.aqeOffEdges", 32000000L)
  /** Naive Bayes scores through the dense broadcast (class, token) grid
   *  up to this many probed cells, the sparse join above. */
  val NbGridCells = Gate("graft.nb.gridCells", 1000000L)

  val all: Seq[Gate] = Seq(RankRangeBytes, RankRangeRows, RankBroadcastBytes,
    SsjoinHashRows, CcContractMinEdges, LoopAqeOffEdges, NbGridCells)

  /** `graft.a.bcDe` → `SPARK_GRAFT_A_BC_DE`: dots become underscores and
   *  every camel-case hump starts a new word. */
  def envName(key: String): String =
    "SPARK_" + key.split('.').map(_.replaceAll("([a-z0-9])([A-Z])", "$1_$2"))
      .mkString("_").toUpperCase

  /** Conf value, else env value, else the default; a set but
   *  non-numeric conf value falls back to the default. */
  def resolve(g: Gate, conf: Option[String], env: Option[String]): Long =
    conf.orElse(env).flatMap(_.toLongOption).getOrElse(g.default)

  def read(g: Gate, spark: SparkSession): Long =
    resolve(g, spark.conf.getOption(g.key), sys.env.get(g.env))

  /**
   * The one partition-width rule: one partition per `perTask` units of
   * work, never fewer than `floor`, never more than 16× cores (a single
   * box cannot usefully run wider; a real cluster would scale the cap
   * by executor count). Every width graft picks — the session's
   * initial-partition ceiling, loop widths, compute-spread widths —
   * is this rule with its own unit and floor.
   */
  def width(cores: Int, units: BigInt, perTask: Long, floor: Int): Int =
    (BigInt(floor) max (units / perTask) min BigInt(cores * 16L)).toInt
}
