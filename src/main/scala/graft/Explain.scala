package graft

import org.apache.spark.sql.execution.FormattedMode

/**
 * Plan-inspection main: prints the formatted physical plan of each named
 * query (all queries when none given). The review loop for SURVEY §5's
 * scale posture — check `PushedFilters`/`ReadSchema` reach the scan,
 * dims broadcast, shuffles are the ones we budgeted for.
 *
 * Usage: runMain graft.Explain [queryName...]
 * (`SPARK_GRAFT_CPUS` sets the local core count, default 8: widths come
 * from [[operators.Gates.width]], so compare plans at equal counts)
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
