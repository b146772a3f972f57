package graft


/**
 * Benchmark main: runs every SparkEntry query against
 * `SPARK_GRAFT_SF_DIR`, printing one JSON line with per-query seconds.
 *
 * Each query is materialized through the noop sink — unlike `count()`,
 * this computes every output column (a count would let Catalyst prune the
 * very expressions being measured) while writing nothing. A warm-up pass
 * at sf0.001 first JITs codegen paths so measured times reflect steady
 * state, not first-query JVM warm-up.
 */
object Bench {
  /** The mainline core count: the default `SPARK_GRAFT_CPUS`, and the
   *  one count whose artifacts and tail baseline carry no `_c<cpus>`
   *  suffix. Every artifact also stamps the cpus it ran at. */
  val MainlineCpus = "32"

  /** 1-minute load average, or -1 where /proc is unavailable. */
  private def load1: Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split(" ")(0).toDouble
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", MainlineCpus)

    // --- contention guard. A concurrent heavy process once inflated a
    // full run 2.6x on unchanged code, and the artifact was
    // indistinguishable from a real regression. Two defenses:
    // (1) serialize benches behind an exclusive flock on bench/.lock, so
    // two runs can never time against each other; (2) sample the 1-min
    // load average (briefly waiting out a just-released machine) and
    // stamp it — plus a `contaminated` verdict — into the artifact, so a
    // run that raced some OTHER workload is machine-distinguishable from
    // a clean record instead of standing as the per-query truth.
    val lockPath = java.nio.file.Paths.get("bench/.lock")
    Option(lockPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    val lockCh = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val tLock = System.nanoTime()
    lockCh.lock() // held until JVM exit; blocks behind a concurrent bench
    val lockWaitSec = (System.nanoTime() - tLock) / 1e9
    // threshold 2.0: round-8's clean pairs all started below load ~1,
    // while the one 19%-inflated artifact started at 3.75 — "just under
    // 4" demonstrably still contaminates, so the bar sits where clean
    // runs actually live. The 1-min EWMA decays slowly; allow 3 min.
    var preLoad = load1
    var settles = 0
    while (preLoad > 2.0 && settles < 18) { // up to 3 min for load decay
      System.err.println(f"[bench] preflight load $preLoad%.2f > 2, waiting...")
      Thread.sleep(10000L); settles += 1; preLoad = load1
    }
    val contaminated = preLoad > 2.0
    if (contaminated)
      System.err.println(f"[bench] WARNING: starting under load " +
        f"$preLoad%.2f — artifact flagged contaminated")

    val spark = Sessions.local(cpus, Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        // stop the clock before cache teardown, which belongs to the
        // harness, not the measured query
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        // fatal JVM errors (OOM etc.) must abort — timings after one
        // would be garbage measured in a corrupted JVM
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
      finally {
        // queries that persist intermediates (e.g. q29's shingle sets)
        // must not hold memory while later queries are measured — the
        // caller-owned-cache contract (graft.Caches); then nudge the
        // ContextCleaner to sweep dead broadcasts
        Caches.releaseAll(spark)
        System.gc()
      }
    }

    // optional comma-separated subset for quick regression triage
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      names.foreach(materialize(_, warmDir))

    // min-of-N per query (default 2, SPARK_GRAFT_BENCH_RUNS): round-10's
    // driver artifact inflated 1.3x median on UNTOUCHED queries while a
    // lock-guarded clean pair on the same code improved — machine state
    // the preflight load guard cannot see (cold page cache, frequency,
    // co-tenancy). Back-to-back samples of the same query make the
    // second run read a warm cache, and the min is the same estimator
    // the local pair discipline already trusts — so round-over-round
    // driver deltas get the clean pair's sign. A failed sample (-1)
    // never masks a good one.
    val benchRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    // per-query rep override ("q135=3,q140_ssjoin=3"): spill-heavy
    // families (the SSJoin six at sf10) demonstrably do NOT reach their
    // warm floor at two reps — q140's committed min-of-two sat 63%
    // above its measured third-rep floor — so scale artifacts for them
    // compare page-cache warmth, not code, unless those specific
    // queries sample deeper. Keys match by prefix; shared-pair groups
    // ("q135+q140+...") match via any member prefix.
    val runsFor: Map[String, Int] = sys.env.get("SPARK_GRAFT_BENCH_RUNS_FOR")
      .map(_.split(",").toSeq.flatMap(_.split("=") match {
        case Array(k, n) if k.trim.nonEmpty =>
          n.trim.toIntOption.filter(_ >= 1).map(k.trim -> _)
        case _ => None
      }).toMap).getOrElse(Map.empty)
    // longest matching key wins: with overlapping prefixes ("q1=2,q13=5"
    // against q135) a Map-order collectFirst picked an arbitrary winner
    def runsOf(name: String): Int = runsFor.toSeq.sortBy(-_._1.length)
      .collectFirst {
        case (k, n) if name.split("\\+").exists(_.startsWith(k)) => n
      }.getOrElse(benchRuns)
    def minOk(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0); if (ok.isEmpty) -1.0 else ok.min
    }
    // self-correcting tail: any query landing > 1.3× its time in the
    // PREVIOUS durable artifact gets two extra samples before the min
    // is booked — the exact set that needed hand-driven BENCH_TAIL
    // re-measures in rounds 11/12 (single-run sweep outliers standing
    // as the headline until manually re-floored). The baseline file is
    // read BEFORE this run overwrites it; SPARK_GRAFT_BENCH_PREV
    // overrides the path. Queries with no baseline (renames, round 1)
    // simply keep their normal rep count.
    // Artifacts are cpu-suffixed off the 32-core mainline: the driver's
    // scaling leg (SPARK_GRAFT_CPUS=8) used to OVERWRITE both the
    // durable per-round record and the tail-re-measure baseline with
    // 8-core times (round-13 verdict item 2) — now each core count has
    // its own baseline and its own durable file.
    // Every artifact also stamps its "cpus" (the session's effective
    // parallelism, so a non-numeric SPARK_GRAFT_CPUS still stamps a
    // number); an explicit SPARK_GRAFT_BENCH_PREV naming an artifact
    // from another core count (or one too old to carry the stamp) is
    // not a baseline for this run.
    val cpuSuffix = if (cpus == MainlineCpus) "" else s"_c$cpus"
    val cores = spark.sparkContext.defaultParallelism
    val prevTimes: Map[String, Double] = {
      val explicit = sys.env.get("SPARK_GRAFT_BENCH_PREV")
      val p = explicit.getOrElse(s"bench/BENCH_DRIVER_LAST$cpuSuffix.json")
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        val prevCpus = """"cpus":(\d+)""".r.findFirstMatchIn(s).map(_.group(1))
        if (explicit.isDefined && !prevCpus.contains(cores.toString)) {
          System.err.println(s"[bench] WARNING: $p was measured at " +
            s"cpus=${prevCpus.getOrElse("unknown")}, this run at cpus=$cores - " +
            "no tail re-measure baseline")
          Map.empty
        } else {
          val re = """"(q[^"]+)":(-?\d+(?:\.\d+)?(?:[eE]-?\d+)?)""".r
          re.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    }
    def tailSuspect(n: String, t: Double): Boolean =
      t >= 0 && prevTimes.get(n).exists(p => p > 0 && t > p * 1.3)
    // cap the re-measure set: a genuinely-regressed WHOLE RUN (code or
    // machine) must not double the sweep's length chasing every query
    def remeasure[A](ss: Seq[(String, Seq[Double])], run: String => Double)
        : (Seq[(String, Seq[Double])], Seq[String]) = {
      val suspects = ss.collect {
        case (n, ts) if tailSuspect(n, minOk(ts)) => n
      }.take(12)
      if (suspects.nonEmpty)
        System.err.println(s"[bench] tail re-measure (vs prev artifact): " +
          suspects.mkString(","))
      (ss.map { case (n, ts) =>
        n -> (if (suspects.contains(n)) ts ++ (1 to 2).map(_ => run(n)) else ts)
      }, suspects)
    }
    val samples0 = names.map(n =>
      n -> (1 to runsOf(n)).map(_ => materialize(n, sfDir)))
    val (samples, remeasured) = remeasure(samples0, materialize(_, sfDir))
    val results = samples.map { case (n, ts) => n -> minOk(ts) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // shared-stage pairs (SparkEntry.sharedPairs): train once, time
    // BOTH consumers as one unit. The solo entries above stay the
    // oracle-checkable record; this column is the pair cost a pipeline
    // that reuses the trained frame actually pays. On subset runs a
    // group participates only when every member is subsetted in.
    // releaseAll only AFTER both frames materialize — the
    // second plan scans the first's checkpointed training state.
    def materializePair(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.sharedPairs(name)(spark, dir)
          .foreach(_.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] shared $name failed: ${e.getMessage}")
        -1.0
      } finally { Caches.releaseAll(spark); System.gc() }
    }
    // subset runs keep a shared group only when EVERY member is in the
    // subset (the scale sweep needs the same shared-folding the full
    // sf0.1 artifact has; a partially-covered group would fold costs
    // for queries the artifact doesn't record)
    val sharedNames = SparkEntry.sharedPairs.keys.toSeq.sorted.filter { g =>
      only.forall(o => g.split("\\+").forall(p =>
        o.exists(n => n == p || n.startsWith(p + "_"))))
    }
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      sharedNames.foreach(materializePair(_, warmDir))
    val sharedSamples0 = sharedNames.map(n =>
      n -> (1 to runsOf(n)).map(_ => materializePair(n, sfDir)))
    val (sharedSamples, sharedRemeasured) =
      remeasure(sharedSamples0, materializePair(_, sfDir))
    val shared = sharedSamples.map { case (n, ts) => n -> minOk(ts) }
    val sharedJson = shared.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

    // Headline = the EFFECTIVE total: for every query covered by a
    // shared stage that ran clean, the stage's one-pass cost replaces
    // the solo re-derivation sum (round-9 verdict: the solo-summed
    // headline carried ~21 s of demonstrated re-computation a pipeline
    // reusing the trained frame never pays). The untouched per-query
    // map and `solo_total` remain the oracle-checkable record; subset
    // runs fold only fully-subsetted groups, else the totals coincide.
    val byPrefix = names.groupBy(_.split("_")(0)).view.mapValues(_.head).toMap
    val okShared = shared.filter(_._2 >= 0)
    val covered = okShared.flatMap(_._1.split("\\+")).flatMap(byPrefix.get).toSet
    val effTotal = total -
      results.collect { case (n, s) if covered(n) && s >= 0 => s }.sum +
      okShared.map(_._2).sum

    // page-cache state next to the load guard: a cold cache is the one
    // machine condition the load average can't show (round-10 item 2)
    val cachedKb: Long =
      try {
        val mi = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/meminfo")), "UTF-8")
        mi.linesIterator.collectFirst {
          case l if l.startsWith("Cached:") =>
            l.split("\\s+")(1).toLong
        }.getOrElse(-1L)
      } catch { case scala.util.control.NonFatal(_) => -1L }

    val remeasuredJson = (remeasured ++ sharedRemeasured)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$effTotal,"unit":"sec","solo_total":$total,"queries":$qs,"sf":"$sfDir"""" +
      s""","shared":$sharedJson""" +
      s""","bench_runs":$benchRuns,"cpus":$cores,"cached_kb":$cachedKb""" +
      s""","remeasured":$remeasuredJson""" +
      f""","preflight_load":$preLoad%.2f,"lock_wait_sec":$lockWaitSec%.1f,"contaminated":$contaminated}"""
    println(line)
    // ALSO persist to a file: the stdout line travels through log
    // capture that has truncated long runs before (r05's driver
    // artifact kept only the last 2,000 chars) — the file is the
    // durable, committed record of the full per-query map (override
    // path via SPARK_GRAFT_BENCH_OUT). Subset runs stay out of the
    // committed location: a partial map labeled as the driver's full
    // run would be worse than the truncated tail it replaces.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "target/bench_last.json"
      else s"bench/BENCH_DRIVER_LAST$cpuSuffix.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      // the durable artifact also keeps every raw sample, so a noisy
      // round is diagnosable (which sample inflated, by how much)
      // without rerunning; the stdout line stays min-only
      val samplesJson = (samples ++ sharedSamples).map { case (k, ts) =>
        "\"" + k + "\":[" + ts.mkString(",") + "]"
      }.mkString("{", ",", "}")
      val fileLine = line.dropRight(1) + s""","samples":$samplesJson}"""
      java.nio.file.Files.write(p, (fileLine + "\n").getBytes("UTF-8"))
      // ALSO persist a per-round copy on full runs: the round JSON the
      // driver commits truncates to a 2,000-char tail, and
      // BENCH_DRIVER_LAST.json is overwritten by the next run — the
      // r{N} copy is the durable cross-round per-query record. N =
      // max round stamped in the repo's committed round artifacts + 1
      // (this run's results land in the NEXT round's judgment).
      if (only.isEmpty) {
        val re = """(?:CORRECTNESS|BENCH|VERDICT)_r(\d+)\.(?:json|md)""".r
        val ns = Option(new java.io.File(".").listFiles).getOrElse(Array.empty)
          .toSeq.flatMap(f =>
            re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        ns.maxOption.foreach { n =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"bench/BENCH_DRIVER_r${n + 1}$cpuSuffix.json"),
            (fileLine + "\n").getBytes("UTF-8"))
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not persist $outPath: $e")
    }
    spark.stop()
  }
}
