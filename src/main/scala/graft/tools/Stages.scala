package graft.tools

/** Dev-only generic query profiler: runs named queries (exact names or
  * prefixes) under the noop sink and prints, per query, wall time, the
  * jobs it started (driver actions: the loop operators' cost currency,
  * each a scheduling round-trip a real cluster pays) plus the top stages
  * by executor run time with task counts and shuffle bytes — the
  * "where is the time going" readout without the UI. Run:
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *    sbt "runMain graft.tools.Stages q338 q227"` */
object Stages {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Stages <name-or-prefix>...")
    val hits = Harness.select(args.toSeq)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    Harness.decouple(spark, sfDir)
    val counter = new Harness.JobCounter(spark)
    hits.foreach { case (name, fn) =>
      val (res, count) = counter.count(Harness.run(spark, sfDir, name, fn))
      val ss = count.stages
      val head = res.fold(msg => s"FAILED: $msg", wall => f"wall=$wall%.2f s")
      println(f"%n=== $name $head, ${count.jobs} jobs, ${ss.size} stages, " +
        f"sum(run)=${ss.map(_.taskMetrics.executorRunTime).sum / 1000.0}%.1f core-s, " +
        f"sum(cpu)=${ss.map(_.taskMetrics.executorCpuTime).sum / 1e9}%.1f core-s ===")
      ss.sortBy(-_.taskMetrics.executorRunTime).take(18).foreach { s =>
        val m = s.taskMetrics
        println(f"  run=${m.executorRunTime / 1000.0}%7.2f " +
          f"cpu=${m.executorCpuTime / 1e9}%7.2f gc=${m.jvmGCTime / 1000.0}%5.2f " +
          f"tasks=${s.numTasks}%4d in=${m.inputMetrics.bytesRead / 1048576}%5dMB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}%7dKB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%7dKB  " +
          f"[${s.stageId}] ${s.name.takeWhile(_ != '\n').take(90)}")
      }
    }
    spark.stop()
  }
}
