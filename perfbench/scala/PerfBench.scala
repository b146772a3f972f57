package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, Sessions, SparkEntry}

/**
 * JVM side of the benchmark: sets graft up, runs a workload's units in
 * closed loop (one unit at a time) and writes one JSON record of what it
 * timed. `run.py` launches it, checks outputs and reports the metrics.
 *
 * Every layer is timed from outside, around graft's public entry points:
 * `Sessions.local` (session start), `SparkEntry.queries` /
 * `SparkEntry.sharedPairs` (construction), `queryExecution.executedPlan`
 * (planning), the sink write (execution) and `Caches.releaseAll`
 * (release). With `trace=1` a [[Tracer]] counts jobs, stages and tasks
 * on every other pass; the untraced passes in between give the tracing
 * overhead.
 *
 * Arguments are `key=value`: sf, units, sink (noop|parquet), out,
 * seed, passes, setups, trace (0|1), cpus, result.
 */
object PerfBench {

  /** One closed-loop unit: a solo query or a shared group, with the names
   *  of the outputs it returns, in order. */
  final case class Work(name: String, outputs: Seq[String],
      build: (SparkSession, String) => Seq[DataFrame])

  object Work {
    private lazy val names = SparkEntry.queries.keys.toSeq

    private def full(prefix: String): String =
      names.find(n => n == prefix || n.startsWith(prefix + "_")).getOrElse(
        throw new IllegalArgumentException(s"no query named $prefix"))

    /** `q01` → solo query, `q224+q226` → shared group, `fail.<x>` → a unit
     *  that always throws (the self-test of failure accounting). */
    def of(spec: String): Work =
      if (spec.startsWith("fail."))
        Work(spec, Seq(spec), (_, _) => throw new RuntimeException(s"$spec fails by design"))
      else if (spec.contains("+"))
        Work(spec, spec.split("\\+").toSeq.map(full), SparkEntry.sharedPairs(spec))
      else {
        val q = full(spec)
        Work(q, Seq(q), (s, d) => Seq(SparkEntry.queries(q)(s, d)))
      }
  }

  final case class UnitRun(unit: String, ok: Boolean, error: String, wall: Double,
      construct: Double, plan: Double, exec: Double, release: Double, blockMb: Double)

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val works = a("units").split(",").toSeq.map(Work.of)
    val (sf, out) = (a("sf"), Paths.get(a("out")))
    val cpus = a("cpus")
    val cores = cpus.toInt
    val parquet = a("sink") == "parquet"
    val trace = a("trace") == "1"
    val rng = new scala.util.Random(a("seed").toLong)

    def sink(df: DataFrame, dir: Option[Path]): Unit = dir match {
      case Some(d) => df.write.mode("overwrite").parquet(d.toString)
      case None => df.write.format("noop").mode("overwrite").save()
    }

    var spark: SparkSession = null
    def span(name: String): Unit = spark.sparkContext.setLocalProperty(Tracer.SpanKey, name)

    var peakHeap = 0L

    /** Runs one unit. The optional census (cached block sizes, heap in use
     *  after a full GC) sits between execution and release and is not
     *  part of the unit's time. */
    def runUnit(w: Work, dir: String, outDir: Option[Path], blocks: Boolean = false,
        heap: Boolean = false): UnitRun = {
      val t0 = System.nanoTime()
      var (t1, t2, t3) = (t0, t0, t0)
      var blockMb = 0.0
      var error = ""
      try {
        span("construct")
        val dfs = w.build(spark, dir)
        t1 = System.nanoTime(); span("plan")
        dfs.foreach(_.queryExecution.executedPlan)
        t2 = System.nanoTime(); span("exec")
        dfs.zip(w.outputs).foreach { case (df, o) => sink(df, outDir.map(_.resolve(o))) }
        t3 = System.nanoTime()
      } catch { case NonFatal(e) =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        val now = System.nanoTime()
        if (t1 == t0) t1 = now
        if (t2 == t0) t2 = now
        if (t3 == t0) t3 = now
      }
      if (blocks)
        blockMb = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      if (heap) {
        System.gc()
        peakHeap = math.max(peakHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      }
      val t3b = System.nanoTime()
      span("release")
      Caches.releaseAll(spark)
      val t4 = System.nanoTime()
      span("other")
      def s(x: Long, y: Long) = (y - x) / 1e9
      UnitRun(w.name, error.isEmpty, error, s(t0, t3) + s(t3b, t4),
        s(t0, t1), s(t1, t2), s(t2, t3), s(t3b, t4), blockMb)
    }

    def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

    // --- set-up, several times: session start plus a warm-up pass, each
    // on a fresh session. The warm-up runs at the measured scale: after
    // warm-ups at sf0.01, measured sf0.1 passes still fell 30-40% over
    // five passes (JIT), against 20% after sf0.1 warm-ups of equal cost.
    val setups = (1 to a("setups").toInt).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cpus, Some(sf))
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      val warmOut = if (parquet) Some(fresh(out.resolve("warm"))) else None
      works.foreach(runUnit(_, sf, warmOut))
      val t2 = System.nanoTime()
      Map("start_s" -> (t1 - t0) / 1e9, "warm_s" -> (t2 - t1) / 1e9)
    }

    // --- measured passes
    val tracer = new Tracer
    val passes = (0 until a("passes").toInt).map { p =>
      val traced = trace && p % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(tracer)
      spark.sparkContext.setLocalProperty(Tracer.PassKey, p.toString)
      val passOut = if (parquet) Some(fresh(out.resolve("pass"))) else None
      val order = rng.shuffle(works)
      val t0 = System.nanoTime()
      val runs = order.map(runUnit(_, sf, passOut, blocks = traced))
      val wall = (System.nanoTime() - t0) / 1e9
      var layers = Map.empty[String, Double]
      var sites = Map.empty[String, Int]
      if (traced) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        layers = tracer.summary(p, wall, cores) ++ Map(
          "caches.block_mb" -> runs.map(_.blockMb).sum)
        sites = tracer.sites(p)
      }
      (wall, traced, runs, layers, sites)
    }

    // --- untimed check pass: every output as parquet for the output
    // check, and the heap census after each unit (a full GC each, which
    // would disturb the timing of the passes above)
    val checkDir = fresh(out.resolve("check"))
    val checkRuns = works.map(runUnit(_, sf, Some(checkDir), heap = true))
    val wanted = works.flatMap(_.outputs).toSet
    Files.writeString(checkDir.resolve("oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter(kv => wanted(kv._1)).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }))
    spark.stop()

    def unitJson(r: UnitRun) = Json.obj(Seq("unit" -> Json.str(r.unit),
      "ok" -> r.ok.toString, "error" -> Json.str(r.error), "wall_s" -> Json.num(r.wall),
      "construct_s" -> Json.num(r.construct), "plan_s" -> Json.num(r.plan),
      "exec_s" -> Json.num(r.exec), "release_s" -> Json.num(r.release)))
    val record = Json.obj(Seq(
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm_boot_s" -> Json.num(bootS),
      "setups" -> Json.arr(setups.map(m => Json.obj(m.toSeq.map(kv => kv._1 -> Json.num(kv._2))))),
      "peak_heap_mb" -> Json.num(peakHeap / 1048576.0),
      "outputs" -> Json.obj(works.map(w => w.name -> Json.arr(w.outputs.map(Json.str)))),
      "passes" -> Json.arr(passes.map { case (wall, traced, runs, layers, sites) =>
        Json.obj(Seq("wall_s" -> Json.num(wall), "traced" -> traced.toString,
          "units" -> Json.arr(runs.map(unitJson)),
          "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map(kv => kv._1 -> Json.num(kv._2))),
          "sites" -> Json.obj(sites.toSeq.sortBy(_._1).map(kv => kv._1 -> kv._2.toString))))
      }),
      "check_units" -> Json.arr(checkRuns.map(unitJson)),
      "check_dir" -> Json.str(checkDir.toString)))
    Files.writeString(Paths.get(a("result")), record + "\n")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
