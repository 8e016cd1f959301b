package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement rules every dev tool shares (`Bench`, `Verify` and the
  * rest of `graft.tools`): one session, one warm-up, one timed run that
  * releases what the query left persisted, run decoupling, the
  * calibration spin, query selection and a job counter. Each tool keeps
  * only which queries it runs, how often, and what it prints. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fixture directory of the timed tools: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the events fixture's tz-naive timestamps are cast NTZ→TIMESTAMP at
      // read, which is only value-stable under UTC
      .config("spark.sql.session.timeZone", "UTC")
      // keep catalog-registered staging tables (q149 writeBucketed) from
      // littering a spark-warehouse/ dir into the working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warms JVM, codegen and parquet-reader paths, so the first timed query
    * doesn't absorb ~4 s of one-time initialization. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Run decoupling: clears the CacheManager and the shared [[graft.queries.
    * Artifacts]], then rebuilds the artifacts and returns the build's
    * seconds. The per-run block release below drops BLOCKS, but a
    * Dataset.persist inside an operator also registers a CacheManager
    * entry whose plan — and, through it, an earlier run's shuffle map
    * outputs — survives into the next run (q305's repeats measured 4.6x
    * faster than cold with zero persistent RDDs; clearing the CacheManager
    * restored the cold cost). Call it outside every timing window, so
    * repeated runs are independent rather than a cold run and subsidized
    * repeats. The rebuild keeps the first consumer of an artifact from
    * absorbing its whole build. */
  def decouple(spark: SparkSession, sfDir: String): Double = {
    spark.sharedState.cacheManager.clearCache()
    graft.queries.Artifacts.clear()
    timed(graft.queries.LlmOps.prewarmSharedArtifacts(spark, sfDir))
  }

  /** One timed run of `fn` into the noop sink: the seconds, or the failure
    * message. The noop sink forces every output column (count() would let
    * Catalyst prune projections) without write I/O in the timing. After
    * the timing window it drops every RDD the run added to the persistent
    * set, whether it succeeded or not: localCheckpointed frames otherwise
    * stay in the BlockManager for good, and the next query would run
    * against different memory pressure. The drop blocks, or one query's
    * litter could overlap the next one's persists (the sf3 OOM Scaling
    * hit). Shared artifacts pre-date the snapshot, so they are never
    * touched. */
  def run(spark: SparkSession, sfDir: String, name: String, fn: Query)
      : Either[String, Double] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val result =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[run] $name FAILED: ${e.getMessage}")
        Left(String.valueOf(e.getMessage))
      }
    val after = spark.sparkContext.getPersistentRDDs
    (after.keySet -- before).foreach(id => after(id).unpersist(blocking = true))
    result
  }

  private val sink = new AtomicLong
  private def xorshift(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
    }
    acc
  }

  /** Seconds for `threads` threads to each run `iters` xorshift64 steps.
    * The work is fixed, so a query time divided by it compares across
    * boxes whose speed differs; the sum goes to a sink so the JIT can't
    * elide the loop. */
  def spin(iters: Long, threads: Int = 1): Double = {
    xorshift(10000000L) // JIT warm
    timed {
      val ts = (1 to threads).map(_ => new Thread(() =>
        sink.addAndGet(xorshift(iters)): Unit))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
  }

  /** Single-thread spin, all-core spin and the system load average. */
  def calibrate(): (Double, Double, Double) =
    (spin(400000000L), spin(400000000L, cpus),
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)

  /** The registered queries named by `words`, each an exact name or a
    * name prefix, in argument order (prefix matches sorted by name). */
  def select(words: Seq[String]): Seq[(String, Query)] = {
    val all = graft.SparkEntry.queries
    val hits = words.flatMap(w =>
      if (all.contains(w)) Seq(w) else all.keys.filter(_.startsWith(w)).toSeq.sorted)
    require(hits.nonEmpty, s"no queries match ${words.mkString(", ")}")
    hits.distinct.map(n => n -> all(n))
  }

  /** A JSON string literal: quote, backslash and every control char are
    * escaped, so a tab or CR in a message or SQL text can't break the
    * reader's json.load. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000

  /** What [[JobCounter.count]] saw: the jobs started, and the stages of
    * those jobs that completed. */
  final case class Count(jobs: Int, stages: Seq[StageInfo])

  /** Attributes jobs and their completed stages by job group, so jobs of
    * an earlier call or of a concurrent caller are never counted. */
  final class JobCounter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val groupOfJob = new ConcurrentHashMap[Int, String]()
    private val groupOfStage = new ConcurrentHashMap[Int, String]()
    private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    private val stages = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StageInfo]]()
    private val fences = new ConcurrentHashMap[String, CountDownLatch]()
    private val ids = new AtomicInteger
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      groupOfJob.put(e.jobId, g)
      Option(jobs.get(g)).foreach { n =>
        n.incrementAndGet()
        e.stageIds.foreach(groupOfStage.putIfAbsent(_, g))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(groupOfStage.remove(e.stageInfo.stageId))
        .flatMap(g => Option(stages.get(g))).foreach(_.add(e.stageInfo))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(groupOfJob.remove(e.jobId)).flatMap(g => Option(fences.get(g)))
        .foreach(_.countDown())

    /** Runs `f` under a job group of its own, then a one-task fence job
      * under a second group, and waits for the fence's end: the listener
      * bus is ordered, so every job and stage of `f` is counted by then. */
    def count[A](f: => A): (A, Count) = {
      val group = s"graft-count-${ids.incrementAndGet()}"
      jobs.put(group, new AtomicInteger)
      stages.put(group, new ConcurrentLinkedQueue)
      sc.setJobGroup(group, "counted")
      val a = try f finally sc.clearJobGroup()
      val fence = group + "-fence"
      val latch = new CountDownLatch(1)
      fences.put(fence, latch)
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(latch.await(60, TimeUnit.SECONDS), s"fence $fence never ended")
      fences.remove(fence)
      (a, Count(jobs.remove(group).get, stages.remove(group).asScala.toSeq))
    }

    def close(): Unit = sc.removeSparkListener(this)
  }
}
