package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZoneMapsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.core.Scratch.workDir(prefix).resolve("t").toString

  // 100 rows, v = 0..99, written as 10 range-clustered files of 10 rows:
  // file i covers exactly v ∈ [10i, 10i+9]
  private lazy val staged: String = {
    val dir = tmp("zm-data")
    val df = (0L until 100L).map(v => (v, s"row$v")).toDF("v", "tag")
    ZoneMaps.writeRangeSharded(df, dir, Seq("v"), rowsPerFile = 10)
    dir
  }

  private lazy val manifest: String = {
    val dir = tmp("zm-man")
    ZoneMaps.build(spark, staged, dir, Seq("v"))
    dir
  }

  test("writeRangeSharded cuts one file per contiguous run") {
    val m = graft.core.Table(spark, manifest, "zone_manifest").readLatest
    assert(m.count() == 10)
    val rows = m.select(col("__zm_min_v"), col("__zm_max_v"), col("__zm_rows"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq ==
      (0 until 10).map(i => (10L * i, 10L * i + 9, 10L)))
  }

  test("prunedRead returns exactly the full-scan filter rows") {
    val (df, stats) = ZoneMaps.prunedRead(spark, staged, manifest,
      Seq(ZoneMaps.Range("v", 23L, 41L)))
    assert(df.select("v").as[Long].collect().sorted.toSeq == (23L to 41L))
    // v∈[23,41] touches files 2,3,4 only
    assert(stats == ZoneMaps.PruneStats(filesTotal = 10, filesKept = 3))
    // the scan really reads only the kept files — that's the operator
    assert(df.inputFiles.length == 3)
  }

  test("residual filter drops in-file out-of-range rows") {
    // [15,15] keeps file 1 (covers 10..19) but only one row of it
    val (df, stats) = ZoneMaps.prunedRead(spark, staged, manifest,
      Seq(ZoneMaps.Range("v", 15L, 15L)))
    assert(df.select("tag").as[String].collect().toSeq == Seq("row15"))
    assert(stats.filesKept == 1)
  }

  test("empty survivor set scans nothing and keeps the schema") {
    val (df, stats) = ZoneMaps.prunedRead(spark, staged, manifest,
      Seq(ZoneMaps.Range("v", 1000L, 2000L)))
    assert(stats.filesKept == 0)
    assert(df.count() == 0)
    assert(df.columns.contains("v") && df.columns.contains("tag"))
  }

  test("multi-column ranges intersect (both must overlap)") {
    val dir = tmp("zm-2col")
    // two files: (v 0..9, w 100..109) and (v 10..19, w 0..9)
    val df = (0L until 20L).map(v => (v, if (v < 10) v + 100 else v - 10))
      .toDF("v", "w")
    ZoneMaps.writeRangeSharded(df, dir, Seq("v"), rowsPerFile = 10)
    val man = tmp("zm-2col-man")
    ZoneMaps.build(spark, dir, man, Seq("v", "w"))
    // v<=9 matches file 0 only; w<=9 matches file 1 only → intersection ∅
    val (_, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 0L, 9L), ZoneMaps.Range("w", 0L, 9L)))
    assert(stats == ZoneMaps.PruneStats(filesTotal = 2, filesKept = 0))
    // and the full-scan filter agrees there are no such rows
    assert(spark.read.parquet(dir)
      .filter(col("v") <= 9 && col("w") <= 9).count() == 0)
  }

  test("all-NULL stat files are skipped (range predicates are NULL-rejecting)") {
    val dir = tmp("zm-null")
    val df = Seq((Some(1L), "a"), (Some(2L), "b")).toDF("v", "tag")
      .union(Seq((Option.empty[Long], "c"), (Option.empty[Long], "d"))
        .toDF("v", "tag"))
    // force the nulls into their own file via the shard trick: sort puts
    // NULLS FIRST, so file 0 = nulls, file 1 = values
    ZoneMaps.writeRangeSharded(df, dir, Seq("v"), rowsPerFile = 2)
    val man = tmp("zm-null-man")
    ZoneMaps.build(spark, dir, man, Seq("v"))
    val (out, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 0L, 10L)))
    assert(stats == ZoneMaps.PruneStats(filesTotal = 2, filesKept = 1))
    assert(out.select("tag").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("stale manifest is refused, buildIncremental heals it (append ≡ rebuild)") {
    val dir = tmp("zm-incr")
    val man = tmp("zm-incr-man")
    val b1 = (0L until 50L).map(v => (v, s"row$v")).toDF("v", "tag")
    ZoneMaps.writeRangeSharded(b1, dir, Seq("v"), rowsPerFile = 10)
    ZoneMaps.build(spark, dir, man, Seq("v"))
    // batch 2 lands as NEW files (disjoint shard ids) — manifest now stale
    val b2 = (50L until 100L).map(v => (v, s"row$v")).toDF("v", "tag")
    ZoneMaps.writeRangeSharded(b2, dir, Seq("v"), rowsPerFile = 10,
      shardBase = 5, append = true)
    val ex = intercept[IllegalStateException] {
      ZoneMaps.prunedRead(spark, dir, man, Seq(ZoneMaps.Range("v", 0L, 5L)))
    }
    assert(ex.getMessage.contains("STALE"))
    // incremental refresh scans only the 5 new files, carries the 5 old rows
    val (carried, added, dropped) =
      ZoneMaps.buildIncremental(spark, dir, man, Seq("v"))
    assert((carried, added, dropped) == (5, 5, 0))
    val (incDf, incStats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 23L, 77L)))
    // ... and the refreshed manifest prunes exactly like a full rebuild
    val man2 = tmp("zm-incr-man2")
    ZoneMaps.build(spark, dir, man2, Seq("v"))
    val (fullDf, fullStats) = ZoneMaps.prunedRead(spark, dir, man2,
      Seq(ZoneMaps.Range("v", 23L, 77L)))
    assert(incStats == fullStats)
    assert(incStats == ZoneMaps.PruneStats(filesTotal = 10, filesKept = 6))
    assert(incDf.select("v").as[Long].collect().sorted.toSeq ==
      fullDf.select("v").as[Long].collect().sorted.toSeq)
    assert(incDf.select("v").as[Long].collect().sorted.toSeq == (23L to 77L))
  }

  test("buildIncremental after a rewrite drops ghost rows and rescans") {
    val dir = tmp("zm-rw")
    val man = tmp("zm-rw-man")
    ZoneMaps.writeRangeSharded((0L until 40L).map(v => (v, "x")).toDF("v", "tag"),
      dir, Seq("v"), rowsPerFile = 10)
    ZoneMaps.build(spark, dir, man, Seq("v"))
    // compaction-style rewrite: same rows, half the files → all paths change
    ZoneMaps.writeRangeSharded((0L until 40L).map(v => (v, "x")).toDF("v", "tag"),
      dir, Seq("v"), rowsPerFile = 20)
    intercept[IllegalStateException] {
      ZoneMaps.prunedRead(spark, dir, man, Seq(ZoneMaps.Range("v", 0L, 5L)))
    }
    val (carried, added, dropped) =
      ZoneMaps.buildIncremental(spark, dir, man, Seq("v"))
    assert((carried, added, dropped) == (0, 2, 4))
    val (out, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 0L, 5L)))
    assert(stats == ZoneMaps.PruneStats(filesTotal = 2, filesKept = 1))
    assert(out.count() == 6)
  }

  test("empty survivor set answers from the manifest alone — zero data-file access") {
    val dir = tmp("zm-noaccess")
    val man = tmp("zm-noaccess-man")
    ZoneMaps.writeRangeSharded((0L until 20L).map(v => (v, s"r$v")).toDF("v", "tag"),
      dir, Seq("v"), rowsPerFile = 10)
    ZoneMaps.build(spark, dir, man, Seq("v"))
    // overwrite every data file with garbage IN PLACE (names unchanged, so
    // the staleness listing still matches): any footer/data read now throws,
    // which is exactly what proves the all-pruned path never opens one
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def corrupt(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) corrupt(st.getPath)
        else if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) {
          val out = fs.create(st.getPath, true)
          out.write("not parquet".getBytes("UTF-8")); out.close()
        }
      }
    corrupt(new org.apache.hadoop.fs.Path(dir))
    val (df, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 1000L, 2000L)))
    assert(stats.filesKept == 0)
    assert(df.count() == 0)
    // schema came from the build-time sidecar, not a footer
    assert(df.schema.fieldNames.toSeq.sorted == Seq("__zm_shard", "tag", "v"))
  }

  test("manifest built with a different column list is refused") {
    val ex = intercept[IllegalArgumentException] {
      ZoneMaps.prunedRead(spark, staged, manifest,
        Seq(ZoneMaps.Range("tag", "a", "b")))
    }
    assert(ex.getMessage.contains("different zone-map column list"))
  }

  test("string columns zone-map too") {
    val dir = tmp("zm-str")
    val df = ('a' to 'z').map(c => (c.toString, c.toInt)).toDF("s", "n")
    ZoneMaps.writeRangeSharded(df, dir, Seq("s"), rowsPerFile = 13)
    val man = tmp("zm-str-man")
    ZoneMaps.build(spark, dir, man, Seq("s"))
    val (out, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("s", "c", "f")))
    assert(stats == ZoneMaps.PruneStats(filesTotal = 2, filesKept = 1))
    assert(out.select("s").as[String].collect().sorted.toSeq ==
      Seq("c", "d", "e", "f"))
  }

  test("kill-point: an interrupted refresh leaves the old manifest serving (X69)") {
    val dir = tmp("zm-kp-data")
    val man = tmp("zm-kp-man")
    val df = (0L until 40L).map(v => (v, s"r$v")).toDF("v", "tag")
    ZoneMaps.writeRangeSharded(df, dir, Seq("v"), rowsPerFile = 10)
    ZoneMaps.build(spark, dir, man, Seq("v"))
    val handle = graft.core.Table(spark, man, "zone_manifest")
    assert(handle.versions == Seq(0L))
    // simulate a refresh crash: staging litter in the versions root,
    // commit rename never happened
    val litter = new java.io.File(s"${handle.versionsRoot}/.staging-v1-killed")
    assert(litter.mkdirs())
    java.nio.file.Files.write(litter.toPath.resolve("part-00000.parquet"),
      Array[Byte](9, 9, 9))
    // the old manifest still serves, schema sidecar included
    val (got, stats) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 5L, 14L)))
    assert(stats == ZoneMaps.PruneStats(filesTotal = 4, filesKept = 2))
    assert(got.count() == 10)
    val (empty, _) = ZoneMaps.prunedRead(spark, dir, man,
      Seq(ZoneMaps.Range("v", 900L, 901L)))
    assert(empty.columns.toSeq == Seq("v", "tag", "__zm_shard"))
    assert(handle.versions == Seq(0L), "litter must not read as a version")
    // the next successful refresh commits v1 and vacuums v0
    ZoneMaps.writeRangeSharded(
      (40L until 50L).map(v => (v, s"r$v")).toDF("v", "tag"),
      dir, Seq("v"), rowsPerFile = 10, shardBase = 4, append = true)
    assert(ZoneMaps.buildIncremental(spark, dir, man, Seq("v")) == ((4, 1, 0)))
    assert(handle.versions == Seq(1L))
  }

  test("legacy flat manifest layout refuses with the migration story, " +
      "not 'no committed versions'") {
    // a pre-versioned release wrote the manifest as flat parquet directly
    // under manifestDir — both skipping families must name the rebuild
    // path instead of surfacing the versioned reader's opaque error
    val legacy = tmp("zm-legacy")
    (0L until 4L).map(i => (s"f$i", i, i + 9L, 10L))
      .toDF("__zm_file", "__zm_min_v", "__zm_max_v", "__zm_rows")
      .coalesce(1).write.parquet(legacy)
    val e = intercept[RuntimeException](ZoneMaps.prunedRead(spark, staged,
      legacy, Seq(ZoneMaps.Range("v", 0L, 5L))))
    assert(e.getMessage.contains("legacy flat manifest"), e.getMessage)
    val e2 = intercept[RuntimeException](
      ZoneMaps.buildIncremental(spark, staged, legacy, Seq("v")))
    assert(e2.getMessage.contains("legacy flat manifest"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      BloomSkip.prunedRead(spark, staged, legacy, Seq(0L)))
    assert(e3.getMessage.contains("legacy flat manifest"), e3.getMessage)
    // an empty (never-built) manifest dir still reads as the versioned
    // handle's own refusal, not the legacy one
    val fresh = tmp("zm-fresh")
    assert(new java.io.File(fresh).mkdirs())
    val e4 = intercept[IllegalStateException](ZoneMaps.prunedRead(spark,
      staged, fresh, Seq(ZoneMaps.Range("v", 0L, 5L))))
    assert(e4.getMessage.contains("no committed versions"), e4.getMessage)
  }
}
