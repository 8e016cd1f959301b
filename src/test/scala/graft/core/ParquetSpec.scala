package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.tools.Harness

/** Pins the one parquet read: [[Parquet.scan]]'s footer schema equals what
  * Spark's own inference gives on every layout the engine reads, a bad
  * path fails the way Spark fails, the table reads start no job, and no
  * other `src/main` file bypasses the helper. */
class ParquetSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Scratch.workDir("parquet").toString

  private def inferred(paths: String*): StructType = spark.read.parquet(paths: _*).schema

  private def assertSame(paths: String*): Unit =
    assert(Parquet.scan(spark, paths: _*).schema == inferred(paths: _*),
      s"schema of ${paths.mkString(", ")}")

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("footer schema equals Spark's inference on every fixture table") {
    // the fixture scales sit side by side with the timed tools' default
    val fixtures = new java.io.File(Harness.sfDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"$fixtures/$sf"
      val tables = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      assert(tables.contains("events.parquet"), s"$dir has no events table")
      tables.foreach(t => assertSame(s"$dir/$t"))
      // the events ts column under each reader setting it depends on
      for (ntz <- Seq("true", "false"); nanos <- Seq("true", "false"))
        withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
          withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
            assertSame(s"$dir/events.parquet")
          }
        }
    }
  }

  test("footer schema equals Spark's inference on the written layouts") {
    val d = freshDir()
    val df = (1 to 40).map(i => (i.toLong, s"s$i", i % 3, i * 0.5))
      .toDF("id", "name", "k", "x")
    // several files, with the _SUCCESS and .crc files a local write leaves
    df.repartition(4).write.parquet(s"$d/multi")
    val names = new java.io.File(s"$d/multi").list()
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(", "))
    assertSame(s"$d/multi")
    // hive-partitioned: the partition column is still appended
    val t = Table(spark, d, "parts")
    t.overwritePartitioned(df, "k")
    assertSame(t.path)
    assert(t.schema.fieldNames.toSeq == Seq("id", "name", "x", "k"))
    // a versioned table's version, with its _manifest.json sidecar
    val v = Table(spark, d, "ver")
    v.writeVersion(df)
    assertSame(v.versionPath(0))
    // a file list under basePath, as the skipping indexes read it
    val files = new java.io.File(s"${t.path}/k=1").list()
      .filter(_.endsWith(".parquet")).map(f => s"${t.path}/k=1/$f").toSeq
    assert(Parquet.scan(spark, Map("basePath" -> t.path), files: _*).schema ==
      spark.read.option("basePath", t.path).parquet(files: _*).schema)
    // a ledger read: several roots at once
    assertSame(v.versionPath(0), s"$d/multi")
  }

  test("the footer read picks the file Spark's inference picks") {
    val d = freshDir()
    // the smallest path decides between differing schemas, and a
    // directory holding no data file is passed over
    Seq(1L).toDF("later").write.parquet(s"$d/pick/b=1")
    Seq(2L).toDF("first").write.parquet(s"$d/pick/b=0")
    Files.createDirectories(Paths.get(s"$d/pick/a=9"))
    Files.createFile(Paths.get(s"$d/pick/a=9/_SUCCESS"))
    assertSame(s"$d/pick")
    assert(Parquet.scan(spark, s"$d/pick").schema.fieldNames.head == "first")
    // a summary file wins over every data file
    Seq(("x", 3)).toDF("sum_a", "sum_b").write.parquet(s"$d/other")
    val summary = new java.io.File(s"$d/other").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(summary.toPath, Paths.get(s"$d/pick/_common_metadata"))
    assertSame(s"$d/pick")
    assert(Parquet.scan(spark, s"$d/pick").schema.fieldNames.head == "sum_a")
  }

  test("a missing path and an empty directory fail as Spark's own read does") {
    val d = freshDir()
    Files.createDirectories(Paths.get(s"$d/empty"))
    Files.createFile(Paths.get(s"$d/empty/_SUCCESS"))
    for (p <- Seq(s"$d/missing", s"$d/empty")) {
      val theirs = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Parquet.scan(spark, p))
      assert(ours.getClass == theirs.getClass && ours.getMessage == theirs.getMessage,
        s"$p: $ours vs $theirs")
    }
  }

  test("table reads and schemas start no Spark job") {
    val t = Table(spark, freshDir(), "nojobs")
    t.overwrite((1 to 10).toDF("id"))
    t.writeVersion((1 to 5).toDF("id"))
    val counter = new Harness.JobCounter(spark)
    try {
      val calls: Seq[(String, () => Any)] = Seq(
        "read" -> (() => t.read), "schema" -> (() => t.schema),
        "readLatest" -> (() => t.readLatest))
      for ((name, call) <- calls)
        assert(counter.count(call())._2.jobs == 0, name)
      // a bare inferring read is the cost the helper removes
      assert(counter.count(spark.read.parquet(t.path))._2.jobs >= 1)
    } finally counter.close()
  }

  test("no src/main file but the helper reads parquet on its own") {
    val bare = """\bread(\s*\.option\([^)]*\))*\s*\.parquet\(""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(new java.io.File("src/main/scala"))
      .filter(f => f.getName.endsWith(".scala") &&
        f.getPath != "src/main/scala/graft/core/Parquet.scala")
      .filter(f => bare.findFirstIn(scala.io.Source.fromFile(f, "UTF-8").mkString).nonEmpty)
    assert(offenders.isEmpty,
      s"read through graft.core.Parquet.scan instead: ${offenders.mkString(", ")}")
  }
}
