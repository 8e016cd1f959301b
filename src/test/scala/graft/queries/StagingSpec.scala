package graft.queries

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the two things `Staging` and `graft.core.Scratch` own for the
  * queries: a file-stream replay (order, restart, failure) and scratch
  * dirs that are gone once the JVM has exited. */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def batches: Seq[DataFrame] =
    (0 to 2).map(i => Seq.fill(i + 1)(i.toLong).toDF("v"))

  /** (batchId, the batch's values) per micro-batch, in delivery order. */
  private def drained(stream: Staging.FileStream, cp: Option[String]) = {
    val got = Seq.newBuilder[(Long, Seq[Long])]
    stream.drain((b, id) => got += (id -> b.as[Long].collect().toSeq), cp)
    got.result()
  }

  test("a replay delivers its batches one file each, in staging order") {
    val stream = Staging.fileStream(graft.core.Scratch.workDir("spec-order"),
      batches: _*)
    assert(drained(stream, None) ==
      Seq(0L -> Seq(0L), 1L -> Seq(1L, 1L), 2L -> Seq(2L, 2L, 2L)))
  }

  test("a second drain from a fresh checkpoint replays batch ids 0..n-1") {
    val work = graft.core.Scratch.workDir("spec-restart")
    val stream = Staging.fileStream(work, batches: _*)
    val first = drained(stream, Some(work.resolve("cp1").toString))
    assert(first.map(_._1) == Seq(0L, 1L, 2L))
    assert(drained(stream, Some(work.resolve("cp2").toString)) == first)
    // the first checkpoint already holds every file
    assert(drained(stream, Some(work.resolve("cp1").toString)).isEmpty)
  }

  test("an onBatch that throws surfaces its exception; the override and the stream are gone") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val during = new java.util.concurrent.atomic.AtomicReference[String]
    val stream = Staging.fileStream(graft.core.Scratch.workDir("spec-throw"),
      batches: _*)
    refused("boom in batch")(stream.drain { (_, _) =>
      during.set(spark.conf.get(key))
      throw new IllegalStateException("boom in batch")
    })
    assert(during.get == "8")
    assert(spark.conf.get(key) == before)
    assert(spark.streams.active.isEmpty)
  }

  test("queries leave no scratch dir behind once the JVM has exited") {
    // q205 and q274 write into their dirs after making them; q214 refuses
    // the sf0.001 fixture after writing into its dir
    val names = Seq("q205_time_travel_by_timestamp", "q274_streaming_wau_sketch",
      "q214_zone_map_incremental")
    val tmp = Files.createTempDirectory("graft-leakspec-tmp").toFile
    val out = Files.createTempDirectory("graft-leakspec-out").toFile
    try {
      // the forked test JVM's --add-opens flags, whichever form they take
      val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      val opens = args.zip(args.drop(1)).collect {
        case ("--add-opens", v) => Seq("--add-opens", v)
      }.flatten ++ args.filter(_.startsWith("--add-opens="))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
        opens ++ Seq(s"-Djava.io.tmpdir=$tmp", "-Dspark.ui.enabled=false",
          "-cp", System.getProperty("java.class.path"), "graft.Verify",
          "/root/testdata/sf0.001", s"$out/verify") ++ names
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(new File(out, "child.log"))
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val child = pb.start()
      if (!child.waitFor(10, TimeUnit.MINUTES)) child.destroyForcibly()
      assert(child.exitValue() == 0,
        FileUtils.readFileToString(new File(out, "child.log"), "UTF-8").takeRight(4000))
      names.foreach(n => assert(new File(s"$out/verify/$n").isDirectory, n))
      val left = Option(tmp.list()).toSeq.flatten.sorted
      assert(left.isEmpty, s"left in java.io.tmpdir: ${left.mkString(", ")}")
    } finally {
      FileUtils.deleteQuietly(tmp)
      FileUtils.deleteQuietly(out)
    }
  }

  test("no query but Staging makes a temp dir, runs foreachBatch or sets the shuffle partitions") {
    val tempDir = """createTempDirectory""".r
    val replay = """foreachBatch\(|conf\.set\(\s*"spark\.sql\.shuffle\.partitions"""".r
    // runMicroBatch's override is the exception: a streaming aggregation
    // pins its state partitions when it starts, so it is set only around
    // start(), not around the drain
    def outsideRunMicroBatch(src: String): String = {
      val from = src.indexOf("private def runMicroBatch")
      if (from < 0) src else src.take(from) + src.drop(src.indexOf("\n  }\n", from))
    }
    val offenders = new File("src/main/scala/graft/queries").listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8").mkString
        val own = if (f.getName == "Staging.scala") Nil
          else replay.findAllIn(outsideRunMicroBatch(src)).toSeq
        (tempDir.findAllIn(src).toSeq ++ own).map(m => s"${f.getName}: $m")
      }
    assert(offenders.isEmpty,
      s"use graft.core.Scratch.workDir and Staging.fileStream: ${offenders.mkString(", ")}")
  }
}
