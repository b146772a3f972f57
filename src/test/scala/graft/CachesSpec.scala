package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/**
 * The counted-checkpoint contract ([[Caches.checkpoint]],
 * [[Caches.CheckpointRoller.roll]]): one job per checkpoint, an exact
 * row count and long-column sum from that job, true row statistics on
 * the returned frame, the origin plan's partitioning kept, and blocks
 * released without Spark's lineage-truncated warning. And the two cache
 * lifetimes: what a [[Caches.scoped]] scope releases on return and on
 * throw, and what it leaves for the caller's [[Caches.releaseAll]].
 */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def rolled[T](body: Caches.CheckpointRoller => T): T =
    try Caches.scoped(scope => body(scope.roller())) finally Caches.releaseAll(spark)

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Spark's own exact sum, the reference the roll must match. */
  private def decimalSum(df: DataFrame): BigInt = {
    val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) BigInt(0) else BigInt(r.getDecimal(0).toBigIntegerExact)
  }

  private def labels(vs: Option[Long]*): DataFrame =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "label")

  test("the roll's sum equals the decimal(38,0) sum: nulls, negatives, totals past Long range") {
    val M = Long.MaxValue
    val frames = Seq(
      "nulls and negatives" -> labels(Some(5L), None, Some(-12L), Some(40L), None, Some(-1L)),
      "past Long.MaxValue" -> labels(Some(M), Some(M), Some(7L), None, Some(-3L), Some(M)),
      "below Long.MinValue" -> labels(Some(Long.MinValue), Some(-M), None, Some(2L)),
      "past the range and back" -> labels(Some(M), Some(10L), Some(-M), Some(-20L), Some(M - 1)))
    rolled { roller =>
      frames.foreach { case (what, df) =>
        Seq(1, 3).foreach { n =>
          val f = df.repartition(n)
          val c = roller.roll(f, Some("label"))
          assert(c.sum == decimalSum(f), s"$what over $n partitions")
          assert(c.rows == df.count(), s"$what rows")
          roller.advance()
        }
      }
    }
    assert(decimalSum(frames(1)._2) > BigInt(M), "the fixture must overflow a long")
  }

  test("an all-null or empty frame sums to 0; no sum column sums to 0") {
    rolled { roller =>
      val nulls = roller.roll(labels(None, None, None).repartition(2), Some("label"))
      assert(nulls.sum == 0 && nulls.rows == 3)
      val empty = roller.roll(labels(Some(3L)).filter(col("id") < 0), Some("label"))
      assert(empty.sum == 0 && empty.rows == 0)
      val unsummed = roller.roll(labels(Some(3L), Some(4L)))
      assert(unsummed.sum == 0 && unsummed.rows == 2)
    }
  }

  test("one job per roll: the count and the sum come from the checkpoint job") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      // a multi-stage frame (an aggregation) under the narrow-loop
      // regime: statically planned, so the whole plan is ONE job
      withConf("spark.sql.adaptive.enabled" -> "false") {
        rolled { roller =>
          val df = spark.range(0, 5000, 1, 4)
            .groupBy((col("id") % 97).as("id")).agg(min(col("id")).as("label"))
          (1 to 3).foreach { i =>
            sc.setJobGroup(s"caches-roll-$i", "one counted roll")
            val c = roller.roll(df, Some("label"))
            assert(c.rows == 97 && c.sum == (0L until 97L).sum)
            roller.advance()
          }
        }
      }
      // fence: the listener queue is FIFO, so once the fence job's start
      // is delivered every earlier event is too
      sc.setJobGroup("caches-fence", "fence")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("caches-fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("caches-fence"), "listener bus never delivered the fence")
      (1 to 3).foreach { i =>
        val n = groups.toArray.count(_ == s"caches-roll-$i")
        assert(n == 1, s"roll $i ran $n jobs")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a frame rolled after repartition(n, src) joins on src with no exchange on its side") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      rolled { roller =>
        val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val edges = roller.roll(spark.range(0, 400, 1, 3)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
          .repartition(n, col("src"))).df
        val other = spark.range(0, 400, 1, 5).select(col("id").as("src"), lit(1L).as("w"))
        val joined = edges.join(other, "src")
        val plan = joined.queryExecution.executedPlan
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 1, s"expected one exchange (the other side):\n$plan")
        assert(!exchanges.head.child.toString.contains("Scan ExistingRDD"),
          s"the checkpoint side was re-shuffled:\n$plan")
        assert(joined.count() == 400)
      }
    }
  }

  test("the rolled frame carries its exact row count, not the origin plan's estimate") {
    rolled { roller =>
      // a join: the origin estimate multiplies its children's sizes
      val a = spark.range(0, 1000, 1, 2).select(col("id"), (col("id") % 10).as("label"))
      val b = spark.range(0, 1000, 1, 2).filter(col("id") % 4 === 0).select(col("id"))
      val origin = a.join(b, "id")
      assert(origin.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
      val c = roller.roll(origin)
      val stats = c.df.queryExecution.optimizedPlan.stats
      assert(c.rows == 250)
      assert(stats.rowCount.contains(BigInt(250)))
      // rows × row width (8 bytes of row overhead + two longs)
      assert(stats.sizeInBytes == BigInt(250 * 24))
      assert(c.df.count() == 250)
    }
  }

  /** Collects the messages of WARN-or-worse events logged under the
   *  `org.apache.spark.rdd` logger while `body` runs (the shared session
   *  logs at ERROR, so the logger is lowered to WARN for the duration). */
  private def rddWarnings[T](body: ConcurrentLinkedQueue[String] => T): T = {
    spark.sparkContext // a session created inside would reset the level
    val name = "org.apache.spark.rdd"
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("caches-spec-rdd", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val hadLogger = config.getLoggers.containsKey(name)
    val oldLevel = config.getLoggerConfig(name).getLevel
    Configurator.setLevel(name, Level.WARN)
    config.getLoggerConfig(name).addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body(seen) finally {
      config.getLoggerConfig(name).removeAppender(appender.getName)
      if (hadLogger) Configurator.setLevel(name, oldLevel) else config.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("releasing checkpoints logs no lineage-truncated WARN and leaves no persistent RDD") {
    rddWarnings { seen =>
      rolled { roller =>
        // every frame stays referenced, so no ContextCleaner sweep
        // (which releases silently) can stand in for the roller
        val gens = (1 to 3).map { i =>
          val c = roller.roll(labels(Some(i.toLong), Some(2L), None).repartition(2), Some("label"))
          assert(c.rows == 3 && c.sum == i + 2)
          roller.advance() // releases the roll before this one
          c
        } :+ roller.roll(labels(Some(7L)))
        val live = spark.sparkContext.getPersistentRDDs.keySet
        assert(gens.map(c => live.contains(c.rdd.id)) == Seq(false, false, true, true))
      } // releaseAll: the last two generations
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      val truncated = seen.toArray.map(_.toString).filter(_.contains("locally checkpointed"))
      assert(truncated.isEmpty, truncated.mkString("\n"))
      // the appender does see the warning when an RDD API unpersist logs it
      val rdd = spark.sparkContext.parallelize(1 to 3, 2).localCheckpoint()
      assert(rdd.count() == 3)
      rdd.unpersist(blocking = true)
      assert(seen.toArray.exists(_.toString.contains("locally checkpointed")))
    }
  }

  // lifetime -> (make it inside a scope, kept after a return, kept after a throw)
  private val lifetimes: Seq[(String, Caches.Scope => Unit, Boolean, Boolean)] = Seq(
    ("scope.persist", scope => assert(scope.persist(labels(Some(1L), None)).count() == 2),
      false, false),
    ("scope.checkpoint", scope => assert(scope.checkpoint(labels(Some(2L))).rows == 1),
      false, false),
    ("Caches.persist", _ => assert(Caches.persist(labels(Some(3L), None)).count() == 2),
      true, true),
    ("scope.roller", { scope =>
      val roller = scope.roller()
      (1 to 3).foreach { i => roller.roll(labels(Some(i.toLong))); roller.advance() }
    }, true, false))

  test("each cache lifetime on return and on throw: a scope releases its frames, " +
      "keeps its rollers' final generation only on return, and never touches Caches.persist") {
    for ((what, make, onReturn, onThrow) <- lifetimes; thrown <- Seq(false, true)) {
      val exit = if (thrown) "thrown" else "returned"
      Caches.releaseAll(spark)
      var made = Set.empty[Int]
      def body(scope: Caches.Scope): Unit = {
        make(scope)
        made = live
        if (thrown) throw new IllegalStateException(s"$what fails")
      }
      if (thrown) intercept[IllegalStateException](Caches.scoped(body)) else Caches.scoped(body)
      // the roller's superseded generations are already gone: it made one
      assert(made.size == 1, s"$what: made $made")
      val kept = if (thrown) onThrow else onReturn
      assert(live == (if (kept) made else Set.empty[Int]), s"$what, $exit: live $live, made $made")
      Caches.releaseAll(spark)
      assert(live.isEmpty, s"$what, $exit: releaseAll left $live")
    }
  }
}
