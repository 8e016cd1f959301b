package graft.tools

import Harness.r3

/** Dev-only scaling-exponent runner (VERDICT r13 ask #1): times a NAMED
  * subset of `SparkEntry.queries` against one fixture dir and prints a
  * per-query JSON line. Run it twice — once on sf0.1, once on the
  * ScaleGen'd sf1 — and the ratio t(sf1)/t(sf0.1) is the measured
  * volume exponent recorded in SCALING.md.
  *
  * Bench's measurement discipline: per-query MIN of 2 runs, each run
  * decoupled and artifact-warm (the rebuild timed separately) and timed by
  * [[Harness.run]], plus the calibration spin so cross-session numbers can
  * divide out the box.
  *
  * Run: `SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_CPUS=32 sbt "runMain
  * graft.tools.Scaling q27_near_dup q132_pagerank ..."`. */
object Scaling {
  val Runs = 2

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Scaling <queryName>...")
    val hits = Harness.select(args.toSeq)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    val calSt = Harness.calibrate()._1

    val results = hits.map { case (name, fn) =>
      val (arts, times) = (1 to Runs).map { _ =>
        (Harness.decouple(spark, sfDir),
          Harness.run(spark, sfDir, name, fn).getOrElse(-1.0))
      }.unzip
      val best = if (times.exists(_ < 0)) -1.0 else times.min
      println(s"""{"metric":"scaling","query":"$name","sf":"$sfDir","sec":${r3(best)},"runs":[${times.map(r3).mkString(",")}]}""")
      (best, arts.min)
    }
    println(s"""{"metric":"scaling_summary","sf":"$sfDir","cpus":${Harness.cpus},""" +
      s""""cal_st":${r3(calSt)},"artifacts_s":${r3(results.map(_._2).min)},""" +
      s""""total_s":${r3(results.map(_._1).filter(_ >= 0).sum)},""" +
      s""""failed":${results.count(_._1 < 0)}}""")
    spark.stop()
  }
}
