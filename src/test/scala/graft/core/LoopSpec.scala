package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.dedup.Dedup
import graft.ops.Graph

/** Pins what the iterative operators leave behind and what a round costs:
  * a refused or non-converged call releases every round frame it
  * truncated, a successful call keeps only the frames its result reads,
  * and in localCheckpoint mode every round costs the same number of Spark
  * jobs, the probe folded into them. */
class LoopSpec extends SparkSpec {
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs `f` persisted and left persisted. Only new ids count: the
    * ContextCleaner may release older ones. */
  private def pinnedBy(f: => Any): Int = {
    val before = persisted
    f
    (persisted -- before).size
  }

  private def chain(n: Long) =
    (1L until n).map(i => (i, i + 1)).toDF("src", "dst")

  test("refused and non-converged loops release every round frame") {
    assert(pinnedBy(intercept[IllegalArgumentException](
      Graph.kCore(chain(10), 2, maxIters = 2))) == 0)
    assert(pinnedBy(intercept[IllegalArgumentException](
      Graph.labelPropagation(chain(8), maxIters = 1))) == 0)
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to 9L).toDF("id")
    assert(pinnedBy(intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, nodes, "id", maxIterations = 1))) == 0)
    assert(pinnedBy(intercept[IllegalStateException](
      Dedup.connectedComponentsStar(pairs, nodes, "id", maxIterations = 1))) == 0)
  }

  test("successful loops keep only the frames their result reads") {
    val g = chain(6)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = (1L to 12L).toDF("id")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => Graph.kCore(g, 1)),
      "labelPropagation" -> (() => Graph.labelPropagation(g)),
      "sssp" -> (() => Graph.sssp(g.withColumn("w", $"src" * 0 + 1),
        Seq(1L).toDF("id"), maxIters = 10)),
      "connectedComponents" -> (() =>
        Dedup.connectedComponents(pairs, nodes, "id")))
    for ((name, call) <- calls) {
      var out: DataFrame = null
      val pinned = pinnedBy { out = call() }
      assert(pinned == 1, s"$name pins $pinned RDDs")
      assert(out.count() > 0, name)
    }
  }

  /** Counts started jobs per job group. [[jobs]] first runs a one-task
    * fence job under its own group and waits for its end: the listener
    * bus is ordered, so every earlier job has been counted by then. */
  private final class JobCounter extends SparkListener {
    private val groupOf = new ConcurrentHashMap[Int, String]()
    private val started = new ConcurrentHashMap[String, AtomicInteger]()
    private val fences = new ConcurrentHashMap[String, CountDownLatch]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      groupOf.put(e.jobId, g)
      started.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(groupOf.get(e.jobId)).flatMap(g => Option(fences.get(g)))
        .foreach(_.countDown())

    def jobs(group: String): Int = {
      val fence = group + "-fence"
      val latch = new CountDownLatch(1)
      fences.put(fence, latch)
      val sc = spark.sparkContext
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(latch.await(60, TimeUnit.SECONDS), s"fence $fence never ended")
      Option(started.get(group)).map(_.get).getOrElse(0)
    }
  }

  test("kCore and labelPropagation: a fixed job count per round plus a " +
      "fixed set-up (localCheckpoint)") {
    val counter = new JobCounter
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    var runs = 0
    def jobsOf(call: => DataFrame): Int = {
      runs += 1
      val group = s"loopspec-$runs"
      sc.setJobGroup(group, "loop under test")
      try call finally sc.clearJobGroup()
      counter.jobs(group)
    }
    try {
      // k = 2 peels a path from both ends: n/2 rounds, the last one empty.
      // K4 plus the pendant chain 4-5-6 drops 6, then 5, then is stable.
      val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
        .toSeq ++ Seq((4L, 5L), (5L, 6L))
      val kCoreRuns = Seq(
        2 -> jobsOf(Graph.kCore(chain(4), 2)),
        4 -> jobsOf(Graph.kCore(chain(8), 2)),
        3 -> jobsOf(Graph.kCore(k4.toDF("src", "dst"), 2)))
      // a triangle settles after one change round; two triangles joined
      // by a bridge after two (GraphSpec replays both by hand)
      val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
      val bridged = tri ++ Seq((4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      val lpRuns = Seq(
        2 -> jobsOf(Graph.labelPropagation(tri.toDF("src", "dst"))),
        3 -> jobsOf(Graph.labelPropagation(bridged.toDF("src", "dst"))))
      // Under AQE every broadcast and shuffle stage is a job of its own,
      // so a round is 6 jobs, not 1. The probe rides the round's last
      // stage: an eager truncation plus a separate probe would make it 7.
      for ((name, setUp, perRound, runsOf) <- Seq(
          ("kCore", 1, 6, kCoreRuns), ("labelPropagation", 7, 6, lpRuns));
          (rounds, jobs) <- runsOf)
        assert(jobs == setUp + perRound * rounds,
          s"$name: $rounds rounds ran $jobs jobs, not $setUp + ${perRound}·rounds")
    } finally sc.removeSparkListener(counter)
  }
}
