package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Dedup, Relational}

/**
 * The one loop entry, [[Sessions.withLoop]]: it decides the regime from
 * the counted edge rows, connected components and pageRank return
 * bit-identical rows in the narrow and the AQE regime, every scoped
 * session conf is back at its pre-call value after a return and after
 * a thrown no-fixpoint error, and the only persisted RDDs left are the
 * checkpoints the returned plan reads — none after a throw.
 */
class LoopRegimeSpec extends SparkSpec {
  import spark.implicits._

  private val aqe = "spark.sql.adaptive.enabled"
  private val width = "spark.sql.shuffle.partitions"
  private val ceiling = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  // regime -> graft.loop.aqeOffEdges (None: the default bar, narrow here)
  private val regimes = Seq("narrow" -> None, "aqe" -> Some("0"))
  // the caller's confs before the call: session defaults, or all set
  private val callerConfs = Seq(
    "defaults" -> Nil,
    "caller-set" -> Seq(aqe -> "true", width -> "7", ceiling -> "13"))

  private def confs: Seq[Option[String]] = Seq(aqe, width, ceiling).map(spark.conf.getOption)

  /** Set `kvs` around `body`, then put back what was there: unsetting
   *  would drop the shared session's own shuffle width to Spark's 200. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def inRegime[T](gate: Option[String])(body: => T): T =
    withConf(gate.map("graft.loop.aqeOffEdges" -> _).toSeq: _*)(body)

  /** Ids of the checkpoint RDDs `df`'s plan scans. */
  private def scanned(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("withLoop decides the regime from the counted edge rows and scopes its confs") {
    Caches.releaseAll(spark)
    val edges = spark.range(0, 10).select($"id".as("src"), ($"id" + 1).as("dst"))
    val seen = regimes.map { case (_, gate) =>
      inRegime(gate)(Sessions.withLoop(edges, "src") { loop =>
        (loop.rows, loop.narrow, spark.conf.get(aqe), spark.conf.get(width),
          spark.conf.get(ceiling), loop.edges.rdd.getNumPartitions)
      })
    }
    // narrow: AQE off, one partition per 250 k rows floored at 1, the
    // edges re-laid at that width; both: the ceiling floored at cores
    assert(seen.head === ((10L, true, "false", "1", "4", 1)))
    assert(seen.last.productIterator.take(5).toSeq === Seq(10L, false, "true", "4", "4"))
    assert(live.isEmpty, "withLoop must release every edge generation on exit")
  }

  // contracts (a 70-hop chain) and freezes (a clique that settles at
  // round 1) once contraction is forced on at any size
  private lazy val ccEdges =
    ((0L until 70L).map(i => (i, i + 1)) ++
      (for (a <- 200L to 205L; b <- (a + 1) to 205L) yield (a, b))).toDF("id_a", "id_b")

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "connectedComponents" -> { () =>
      val df = withConf("graft.cc.contractMinEdges" -> "0")(Dedup.connectedComponents(ccEdges))
      val st = Dedup.lastCc.get
      assert(st.edgeCounts.nonEmpty && st.frozenCounts.nonEmpty, s"must contract and freeze: $st")
      df
    },
    "pageRank" -> (() => Relational.pageRank(
      Seq(("a", "b", 3L)).toDF("s", "d", "w"), "s", "d", "w", iterations = 3, damping = 0.85)))

  test("both loops: identical rows in either regime, confs restored, only scanned checkpoints live") {
    for ((name, run) <- loops; (caller, set) <- callerConfs) withConf(set: _*) {
      val rows = regimes.map { case (regime, gate) =>
        Caches.releaseAll(spark)
        val before = confs
        val df = inRegime(gate)(run())
        val what = s"$name, $regime regime, $caller confs"
        assert(confs === before, s"$what: a scoped conf was not restored")
        assert(live.nonEmpty && live === scanned(df), s"$what: live $live, scanned ${scanned(df)}")
        val out = df.collect().toSeq.sortBy(_.toString)
        Caches.releaseAll(spark)
        out
      }
      assert(rows.head.nonEmpty && rows.head === rows.last, s"$name, $caller confs: regimes differ")
    }
  }

  test("a thrown no-fixpoint error restores the confs and releases the edges, in both regimes") {
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for ((caller, set) <- callerConfs; (regime, gate) <- regimes) withConf(set: _*) {
      Caches.releaseAll(spark)
      val before = confs
      val e = intercept[IllegalStateException] {
        inRegime(gate)(Dedup.connectedComponents(path, maxIter = 1))
      }
      assert(e.getMessage.contains("fixpoint"))
      assert(confs === before, s"$regime regime, $caller confs: a scoped conf was not restored")
      // every edge generation and every label checkpoint is released
      // by the loop's scope, without help from the caller
      assert(live.isEmpty, s"$regime regime, $caller confs: live $live")
      Caches.releaseAll(spark)
    }
  }
}
