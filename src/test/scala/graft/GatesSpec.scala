package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Gates

/**
 * Pins the size-gate table and the one partition-width rule with pure
 * calls (no session, no environment mutation): every gate's default,
 * the key → env-alias rule, the conf > env > default resolution order,
 * and `Gates.width` against each width formula it replaced, at
 * sf0.1-, sf1- and sf10-sized inputs on 4 and 32 cores.
 */
class GatesSpec extends AnyFunSuite {

  private val defaults = Seq(
    "graft.rank.rangeBytes" -> (256L << 20),
    "graft.rank.rangeRows" -> (2L << 20),
    "graft.rank.broadcastBytes" -> (64L << 20),
    "graft.ssjoin.hashRows" -> 400000L,
    "graft.cc.contractMinEdges" -> 1000000L,
    "graft.loop.aqeOffEdges" -> 32000000L,
    "graft.nb.gridCells" -> 1000000L)

  test("the table holds exactly the seven gates, each at its default") {
    assert(Gates.all.map(g => g.key -> g.default) === defaults)
    Gates.all.foreach(g => assert(Gates.resolve(g, None, None) === g.default, g.key))
  }

  test("env aliases derive from the keys and keep every established name") {
    val established = Map(
      "graft.rank.rangeBytes" -> "SPARK_GRAFT_RANK_RANGE_BYTES",
      "graft.rank.rangeRows" -> "SPARK_GRAFT_RANK_RANGE_ROWS",
      "graft.ssjoin.hashRows" -> "SPARK_GRAFT_SSJOIN_HASH_ROWS",
      "graft.cc.contractMinEdges" -> "SPARK_GRAFT_CC_CONTRACT_MIN_EDGES")
    established.foreach { case (k, e) => assert(Gates.envName(k) === e) }
    assert(Gates.LoopAqeOffEdges.env === "SPARK_GRAFT_LOOP_AQE_OFF_EDGES")
    assert(Gates.NbGridCells.env === "SPARK_GRAFT_NB_GRID_CELLS")
    assert(Gates.RankBroadcastBytes.env === "SPARK_GRAFT_RANK_BROADCAST_BYTES")
    assert(Gates.all.map(_.env).distinct.size === Gates.all.size)
  }

  test("conf overrides env overrides default; a non-numeric conf is ignored") {
    Gates.all.foreach { g =>
      assert(Gates.resolve(g, Some("7"), None) === 7L, g.key)
      assert(Gates.resolve(g, Some("7"), Some("9")) === 7L, g.key)
      assert(Gates.resolve(g, None, Some("0")) === 0L, g.key)
      assert(Gates.resolve(g, Some("x"), Some("9")) === g.default, g.key)
    }
  }

  // The seven width formulas as they were written before Gates.width.
  private def oldInitialPartitions(cpus: Int, bytes: Long): Int =
    math.min(math.max(cpus, (bytes / (8L << 20)).toInt), cpus * 16)
  private def oldLoopShuffle(cores: Int, rows: Long): Int =
    math.min(math.max(4L, rows / 250000L), cores * 16L).toInt
  private def oldLoopCeiling(cores: Int, rows: Long): Int =
    math.min(math.max(cores.toLong, rows / 1000000L), cores * 16L).toInt
  private def oldParWidth(cores: Int, rows: BigInt, perPart: Long): Int =
    (BigInt(cores) max (rows / perPart) min BigInt(cores * 16L)).toInt
  private def oldPcaTerms(cores: Int, nVecs: Long, d: Long): Int =
    math.min(math.max(cores.toLong, nVecs * d * d / 2 / 1000000L), cores * 16L).toInt
  private def oldLogisticParts(cores: Int, parts: Int): Int =
    math.min(math.max(cores, parts), cores * 16)
  private def oldNbCounts(cores: Int, cells: Long): Int =
    math.min(math.max(1L, cells / 250000L), cores * 16L).toInt

  private val MB = 1L << 20
  private val coreCounts = Seq(4, 32)
  // per scale step (sf0.1, sf1, sf10): on-disk input, loop/leaf rows,
  // PCA vector count, scan splits, naive-Bayes grid cells — plus a zero
  private val bytes = Seq(0L, 15 * MB, 154 * MB, 1536 * MB)
  private val rows = Seq(0L, 190000L, 1840000L, 24600000L)
  private val vecs = Seq(0L, 1000L, 10000L, 100000L)
  private val splits = Seq(1, 3, 30, 300)
  private val cells = Seq(0L, 40000L, 400000L, 4000000L)

  test("width reproduces the input-sized and loop width rules (floors cores and 4)") {
    for (c <- coreCounts; b <- bytes)
      assert(Gates.width(c, b, 8L << 20, c) === oldInitialPartitions(c, b), s"init $c $b")
    for (c <- coreCounts; r <- rows) {
      assert(Gates.width(c, r, 250000L, 4) === oldLoopShuffle(c, r), s"loop $c $r")
      assert(Gates.width(c, r, 1000000L, c) === oldLoopCeiling(c, r), s"ceil $c $r")
    }
    assert(Gates.width(4, 0L, 250000L, 4) === 4)
    assert(Gates.width(32, 24600000L, 250000L, 4) === 98)
    assert(Gates.width(4, 1536 * MB, 8L << 20, 4) === 64)
  }

  test("width reproduces the compute-spread widths (floors cores and 1)") {
    for (c <- coreCounts; r <- rows; per <- Seq(2000L, 20000L))
      assert(Gates.width(c, r, per, c) === oldParWidth(c, r, per), s"par $c $r $per")
    for (c <- coreCounts; n <- vecs; d <- Seq(16L, 178L))
      assert(Gates.width(c, n * d * d / 2, 1000000L, c) === oldPcaTerms(c, n, d),
        s"pca $c $n $d")
    for (c <- coreCounts; p <- splits)
      assert(Gates.width(c, p, 1L, c) === oldLogisticParts(c, p), s"gd $c $p")
    for (c <- coreCounts; g <- cells)
      assert(Gates.width(c, g, 250000L, 1) === oldNbCounts(c, g), s"nb $c $g")
    assert(Gates.width(32, 40000L, 250000L, 1) === 1)
    assert(Gates.width(4, 4000000L, 250000L, 1) === 16)
  }

  test("width never exceeds 16x cores, even past Long range") {
    assert(Gates.width(4, BigInt(Long.MaxValue) * 4, 1L, 4) === 64)
    assert(Gates.width(32, BigInt(Long.MaxValue), 2000L, 32) === 512)
  }
}
