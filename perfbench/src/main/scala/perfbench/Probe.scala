package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Counters of one job group: everything the scheduler and the executors
  * report for the jobs the benchmark ran under that group. */
final class Counters {
  var jobsStarted, jobsEnded, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes, filesWritten = 0L

  def json: String = Json.obj(
    "jobs_started" -> jobsStarted, "jobs_ended" -> jobsEnded,
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "wait_ms" -> waitMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes, "files_written" -> filesWritten)
}

/** Spark listener that attributes every job, stage and task event to the
  * job group the benchmark set for the DAG task that submitted it (read
  * from the task's job tag, which the task's own threads inherit, else from
  * `spark.jobGroup.id`). Attribution is by group, so a late event still
  * lands on the task that caused it; completeness is checked by matching job starts
  * to job ends after a fence job, never by sleeping.
  *
  * With `spans` on it also keeps one record per job and per stage, which
  * become the job and stage levels of the trace. */
final class Probe extends SparkListener {
  @volatile var spans = false

  private val jobGroup = mutable.HashMap[Int, String]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageSubmitted = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val counters = mutable.HashMap[String, Counters]()
  private val jobSpans = mutable.ArrayBuffer[String]()
  private val stageSpans = mutable.ArrayBuffer[String]()
  private val jobStart = mutable.HashMap[Int, Long]()

  // written-file counts arrive as driver metric updates keyed by
  // accumulator id; the plan of the SQL execution names the accumulator
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val fileAccums = new ConcurrentHashMap[Long, String]()

  // bytes of RDD blocks currently stored, and the peak since the last reset
  private val blocks = mutable.HashMap[String, Long]()
  private var storedBytes, peakBytes = 0L

  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  private def of(group: String): Counters =
    counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(p => Probe.group(
      Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(",")),
      Option(p.getProperty("spark.jobGroup.id")))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach { s =>
      stageGroup(s) = g
      stageJob.getOrElseUpdate(s, e.jobId)
    }
    of(g).jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = synchronized {
      val g = jobGroup.getOrElse(e.jobId, "")
      of(g).jobsEnded += 1
      if (spans) jobSpans += Json.obj("job" -> e.jobId, "group" -> g,
        "start_ms" -> jobStart.getOrElse(e.jobId, e.time),
        "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
      g
    }
    Option(fences.get(g)).foreach(_.countDown())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val g = stageGroup.getOrElse(si.stageId, "")
      of(g).stages += 1
      if (spans) stageSpans += Json.obj("stage" -> si.stageId,
        "attempt" -> si.attemptNumber(), "group" -> g,
        "job" -> stageJob.getOrElse(si.stageId, -1),
        "start_ms" -> si.submissionTime.getOrElse(0L),
        "end_ms" -> si.completionTime.getOrElse(0L),
        "tasks" -> si.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val info = e.taskInfo
    stageSubmitted.get(e.stageId).foreach(s =>
      c.waitMs += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockManagerId.executorId + "/" + b.blockId.name
        storedBytes -= blocks.remove(key).getOrElse(0L)
        if (b.storageLevel.isValid) {
          blocks(key) = b.memSize + b.diskSize
          storedBytes += b.memSize + b.diskSize
        }
        peakBytes = math.max(peakBytes, storedBytes)
      }
    }

  private def watchFiles(exec: Long, plan: SparkPlanInfo): Unit = {
    val g = execGroup.get(exec)
    if (g != null) {
      def walk(p: SparkPlanInfo): Unit = {
        p.metrics.filter(_.name == "number of written files")
          .foreach(m => fileAccums.put(m.accumulatorId, g))
        p.children.foreach(walk)
      }
      walk(plan)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, Probe.group(s.jobTags.toSeq, s.jobGroupId))
      watchFiles(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      watchFiles(u.executionId, u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) =>
        val g = fileAccums.get(id)
        if (g != null) synchronized(of(g).filesWritten += v)
      }
    case _ =>
  }

  /** Runs a one-task job under its own group and waits for its end event.
    * The listener bus delivers events in order, so once the fence's end is
    * seen, every event of every earlier job has been handled too. */
  def fence(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val latch = new CountDownLatch(1)
    fences.put(name, latch)
    val sc = spark.sparkContext
    sc.setJobGroup(name, "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    require(latch.await(60, TimeUnit.SECONDS), s"fence $name never ended")
    fences.remove(name)
  }

  def groups(names: Set[String]): Map[String, Counters] = synchronized {
    counters.filter(c => names.contains(c._1)).toMap
  }

  def resetPeak(): Unit = synchronized { peakBytes = storedBytes }
  def peak: Long = synchronized(peakBytes)

  def takeSpans(): (Seq[String], Seq[String]) = synchronized {
    val out = (jobSpans.toVector, stageSpans.toVector)
    jobSpans.clear(); stageSpans.clear()
    out
  }
}

object Probe {
  /** Job tag that carries a task's group. Threads a task starts inherit its
    * tags, but some reset the job group: structured streaming runs each
    * micro-batch under a group of its own. */
  val TagPrefix = "perfbench-"

  def tag(group: String): String = TagPrefix + group

  def group(tags: Seq[String], jobGroup: Option[String]): String =
    tags.find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix))
      .orElse(jobGroup).getOrElse("")
}

/** Minimal JSON writer for the result file: numbers, strings, booleans,
  * nested objects and arrays given as pre-rendered JSON. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def objOf(kvs: Iterable[(String, Any)]): String = obj(kvs.toSeq: _*)
}
