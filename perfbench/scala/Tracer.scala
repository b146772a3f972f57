package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/**
 * Counts the engine's work from outside: a listener that attributes every
 * job to the harness span that was open when it started (the
 * `perfbench.span` / `perfbench.pass` local properties the harness sets
 * around each call into graft) and to its short call site, the name of
 * its result stage (e.g. `parquet at Tables.scala:16`).
 *
 * Events arrive on Spark's listener bus, asynchronously; [[summary]] is
 * only meaningful after the bus has drained (see `BusDrain`).
 */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  private val stagesDone = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val taskAgg = mutable.Map.empty[Int, Tasks]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val pass = prop(PassKey).flatMap(_.toIntOption).getOrElse(-1)
    // the result stage is created last, so it has the highest id; its
    // name is the job's short call site
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val j = Job(pass, prop(SpanKey).getOrElse("other"), site, e.time, e.time, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    passOfStage(e.stageInfo.stageId).foreach(p => stagesDone(p) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    passOfStage(e.stageId).foreach { p =>
      val t = taskAgg.getOrElseUpdate(p, new Tasks)
      t.n += 1
      if (e.reason != Success) t.failed += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private def passOfStage(stageId: Int): Option[Int] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.pass)

  /** Per-pass counts, keyed by metric name (without the layer-time
   *  metrics, which the harness times itself). */
  def summary(pass: Int, wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val js = jobs.values.filter(_.pass == pass).toSeq
    def site(j: Job) = j.site.replaceAll(":\\d+$", "")
    val fromSources = js.filter(j => site(j).endsWith(" at Tables.scala"))
    val checkpoints = js.filter(j => site(j).matches("(localCheckpoint|checkpoint) at .*"))
    val construct = js.filter(_.span == "construct")
    val listed = js.map(_.stages.size).sum
    val skipped = js.map(_.stages.count(s => !submitted(s))).sum
    val t = taskAgg.getOrElse(pass, new Tasks)
    val mb = 1024.0 * 1024.0
    Map(
      "sources.jobs" -> fromSources.size.toDouble,
      "sources.job_s" -> fromSources.map(_.seconds).sum,
      "operators.construct_jobs" -> construct.size.toDouble,
      "operators.probe_jobs" ->
        construct.count(j => !fromSources.contains(j) && !checkpoints.contains(j)).toDouble,
      "caches.checkpoint_jobs" -> checkpoints.size.toDouble,
      "spark.exec_jobs" -> js.count(_.span == "exec").toDouble,
      "spark.stages" -> stagesDone(pass).toDouble,
      "spark.stages_skipped_frac" -> (if (listed == 0) 0.0 else skipped.toDouble / listed),
      "spark.tasks" -> t.n.toDouble,
      "spark.tasks_failed" -> t.failed.toDouble,
      "spark.task_run_s" -> t.runMs / 1e3,
      "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.core_busy_frac" -> t.runMs / 1e3 / (wallS * cores),
      "spark.shuffle_read_mb" -> t.shuffleRead / mb,
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb,
      "spark.spill_mb" -> t.spill / mb,
      "spark.output_mb" -> t.output / mb,
      "driver.gap_s" -> math.max(0.0, wallS - coveredSeconds(js)))
  }

  /** Per-pass job counts grouped by (span, call-site file), for the
   *  artifact: e.g. `construct | parquet at Tables.scala -> 34`. */
  def sites(pass: Int): Map[String, Int] = synchronized {
    jobs.values.filter(_.pass == pass).toSeq
      .groupBy(j => s"${j.span} | ${j.site.replaceAll(":\\d+$", "")}")
      .view.mapValues(_.size).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PassKey = "perfbench.pass"

  final case class Job(pass: Int, span: String, site: String, start: Long,
      var end: Long, stages: Seq[Int]) {
    def seconds: Double = (end - start) / 1e3
  }

  final class Tasks {
    var n, failed = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, output = 0L
  }

  /** Wall seconds covered by at least one running job (interval union). */
  def coveredSeconds(js: Seq[Job]): Double = {
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    js.map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
      if (s > hi) { covered += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) covered += hi - lo
    covered / 1e3
  }
}
