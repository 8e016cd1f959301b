package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark in this JVM and writes a raw record
  * of it as JSON; `perfbench/run.py` builds the inputs, starts this runner,
  * checks the outputs and turns the record into metrics.
  *
  * A workload is an ordered list of DAG tasks. Each task is one registered
  * query of `graft.SparkEntry.queries`, called from outside the program in
  * a closed loop with one client. Three public calls are timed per task:
  * the query function (`call`), Catalyst planning of the returned plan
  * (`plan`) and a `noop` write of the result (`exec`).
  *
  * Arguments are `key=value`:
  *  - `data`: generated input directory, one parquet file per table
  *  - `tasks`: comma-separated `name:module` list, in DAG order
  *  - `passes`: the timed passes after the correctness pass, in order, one
  *    letter each: `u` untraced, `t` traced
  *  - `check`: directory for the correctness pass's outputs
  *  - `out`: result file; `warehouse`, `local`: Spark scratch directories
  */
object Runner {
  final case class Task(name: String, module: String)

  /** `local[4]` and 4 shuffle partitions: the benchmark's machine size. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument is not key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val data = opt("data")
    val plan = opt("passes")
    require(plan.nonEmpty && plan.forall("ut".contains(_)), s"bad passes: $plan")
    val tasks = opt("tasks").split(",").toVector.map { t =>
      val Array(n, m) = t.split(":")
      Task(n, m)
    }

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .config("spark.local.dir", opt("local"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val probe = new Probe
    sc.addSparkListener(probe)
    // same warm-up as graft.Bench: JVM, codegen and parquet-reader paths
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
    // the program's registry is part of set-up, so work moved into its
    // initialization shows in setup_s rather than in an untimed pass
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    tasks.foreach(t => require(queries.contains(t.name), s"unknown task ${t.name}"))

    val baseline = sc.getPersistentRDDs.keySet
    // Run hygiene, outside every timing window: drop the program's memo,
    // the plan cache, and every block a previous pass persisted.
    def cleanup(): Unit = {
      graft.queries.Artifacts.clear()
      spark.catalog.clearCache()
      val now = sc.getPersistentRDDs
      (now.keySet -- baseline).foreach(id => now(id).unpersist(blocking = true))
    }

    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def clock(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null).toVector
    def heapAfterGc(): Long = heapPools.map(_.getCollectionUsage.getUsed).sum

    def message(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)

    // Correctness pass (untimed; also the cold pass the JIT starts on): each task's
    // output goes to parquet for the DuckDB oracle comparison.
    val checkErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    val check0 = System.nanoTime()
    cleanup()
    tasks.foreach { t =>
      try queries(t.name)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"${opt("check")}/${t.name}")
      catch { case e: Throwable => checkErrors(t.name) = message(e) }
    }
    val checkS = (System.nanoTime() - check0) / 1e9

    def runTask(group: String, t: Task): String = {
      sc.setJobGroup(group, t.name, interruptOnCancel = false)
      sc.addJobTag(Probe.tag(group))
      val t0 = clock()
      var t1, t2, t3 = Double.NaN
      var err: String = null
      try {
        val df = queries(t.name)(spark, data)
        t1 = clock()
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.executedPlan
        t2 = clock()
        df.write.format("noop").mode("overwrite").save()
        t3 = clock()
      } catch { case e: Throwable =>
        err = message(e)
        val now = clock()
        if (t1.isNaN) t1 = now
        if (t2.isNaN) t2 = now
        t3 = now
      } finally {
        sc.removeJobTag(Probe.tag(group))
        sc.clearJobGroup()
      }
      Json.obj("name" -> t.name, "module" -> t.module, "group" -> group,
        "call" -> Seq(t0, t1), "plan" -> Seq(t1, t2), "exec" -> Seq(t2, t3),
        "error" -> err)
    }

    def pass(p: Int, traced: Boolean): String = {
      cleanup()
      System.gc()
      probe.fence(spark, s"f$p.start")
      probe.resetPeak()
      probe.spans = traced
      val before = sc.getPersistentRDDs.keySet
      var heapMax = heapAfterGc()
      val start = clock()
      val recs = tasks.zipWithIndex.map { case (t, i) =>
        val r = runTask(s"p$p.t$i", t)
        heapMax = math.max(heapMax, heapAfterGc())
        r
      }
      val end = clock()
      probe.fence(spark, s"f$p.end")
      probe.spans = false
      // what the tasks left persisted, read before this benchmark's cleanup
      val leaked = (sc.getPersistentRDDs.keySet -- before).toSet
      val info = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
      val (jobs, stages) = probe.takeSpans()
      val groups = probe.groups(tasks.indices.map(i => s"p$p.t$i").toSet)
      Json.obj(
        "pass" -> p, "traced" -> traced, "start_ms" -> start, "end_ms" -> end,
        "tasks" -> Json.Raw(recs.mkString("[", ",", "]")),
        "groups" -> Json.Raw(Json.objOf(groups.map { case (g, c) =>
          g -> Json.Raw(c.json) })),
        "leaked_rdds" -> leaked.size,
        "leaked_bytes" -> info.map(i => i.memSize + i.diskSize).sum,
        "leaked_blocks" -> info.map(_.numCachedPartitions.toLong).sum,
        "storage_peak_bytes" -> probe.peak,
        "heap_after_gc_max_bytes" -> heapMax,
        "jobs" -> Json.Raw(jobs.mkString("[", ",", "]")),
        "stages" -> Json.Raw(stages.mkString("[", ",", "]")))
    }

    val passes = plan.indices.map(p => pass(p, traced = plan(p) == 't'))
    cleanup()

    val result = Json.obj(
      "setup_s" -> setupS,
      "check_s" -> checkS,
      "check_errors" -> Json.Raw(Json.objOf(checkErrors)),
      "oracle" -> Json.Raw(Json.objOf(tasks.flatMap(t =>
        oracle.get(t.name).map(t.name -> _)))),
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")))
    Files.writeString(Paths.get(opt("out")), result)
    spark.stop()
  }
}
