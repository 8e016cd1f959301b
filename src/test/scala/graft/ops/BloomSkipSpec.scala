package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    graft.core.Scratch.workDir(prefix).toString

  /** Four single-file shards with disjoint key ranges. */
  private def writeShards(dataDir: String): Unit =
    Seq.tabulate(40)(i => (i.toLong, i.toLong / 10, s"row$i"))
      .toDF("k", "__shard", "payload")
      .repartition(1)
      .write.partitionBy("__shard").mode("overwrite").parquet(dataDir)

  test("bloom skip: point lookups prune files, zero false negatives (X119)") {
    val dataDir = tmp("bs-data")
    val manifestDir = tmp("bs-man")
    writeShards(dataDir)
    BloomSkip.build(spark, dataDir, manifestDir, "k", bits = 4096,
      hashes = 5, seed = "s-x119")
    // key 7 lives only in shard 0: at most shard 0 + false positives,
    // never fewer — and the fetched rows are exactly the equality match
    val (df, stats) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(7L))
    assert(stats.filesTotal == 4 && stats.filesKept >= 1, s"stats $stats")
    assert(df.select("k", "payload").as[(Long, String)].collect().toSeq ==
      Seq((7L, "row7")))
    // IN-list across two shards
    val (df2, stats2) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(7L, 23L))
    assert(stats2.filesKept >= 2)
    assert(df2.select("k").as[Long].collect().toSet == Set(7L, 23L))
    // absent key: possibly zero files; always zero rows
    val (df3, _) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(999L))
    assert(df3.count() == 0)
    // at the 4096-bit design point the single-shard probe should
    // actually SKIP most files (this is the operator's reason to exist)
    assert(stats.filesKept < stats.filesTotal,
      s"no pruning happened: $stats")
  }

  test("bloom skip: incremental refresh covers appends; stale reads refuse (X119)") {
    val dataDir = tmp("bs-data2")
    val manifestDir = tmp("bs-man2")
    writeShards(dataDir)
    BloomSkip.build(spark, dataDir, manifestDir, "k", bits = 4096,
      hashes = 5, seed = "s-x119")
    // append a fifth shard under the manifest's back: reads refuse
    Seq((100L, "row100")).toDF("k", "payload")
      .write.parquet(s"$dataDir/__shard=4")
    val e = intercept[IllegalArgumentException](
      BloomSkip.prunedRead(spark, dataDir, manifestDir, Seq(7L)))
    assert(e.getMessage.contains("not covered"))
    // incremental: 4 carried, 1 added, 0 dropped; then the new key hits
    assert(BloomSkip.buildIncremental(spark, dataDir, manifestDir) ==
      ((4, 1, 0)))
    val (df, stats) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(100L))
    assert(stats.filesTotal == 5)
    assert(df.select("payload").as[String].collect().toSeq == Seq("row100"))
    // vanished file: refuse, then rebuild drops it
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dataDir/__shard=4"), true)
    val e2 = intercept[IllegalArgumentException](
      BloomSkip.prunedRead(spark, dataDir, manifestDir, Seq(7L)))
    assert(e2.getMessage.contains("no longer present"))
    val (carried, added, dropped) =
      BloomSkip.buildIncremental(spark, dataDir, manifestDir)
    assert((carried, added, dropped) == ((4, 0, 1)))
    assert(BloomSkip.prunedRead(spark, dataDir, manifestDir, Seq(7L))
      ._1.count() == 1)
  }

  test("bloom skip: all-NULL-key file stays covered and prunes out (X119)") {
    val dataDir = tmp("bs-data3")
    val manifestDir = tmp("bs-man3")
    Seq((Some(1L), 0L), (Some(2L), 0L)).toDF("k", "__shard")
      .repartition(1).write.partitionBy("__shard")
      .mode("overwrite").parquet(dataDir)
    Seq[Option[Long]](None, None).toDF("k").coalesce(1)
      .write.parquet(s"$dataDir/__shard=1")
    BloomSkip.build(spark, dataDir, manifestDir, "k", bits = 1024,
      hashes = 3, seed = "s-null")
    // the sentinel keeps the NULL-only file in the covered set (no
    // staleness refusal) while the probe never keeps it
    val (df, stats) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(1L))
    assert(stats.filesTotal == 2)
    assert(df.select("k").as[Long].collect().toSeq == Seq(1L))
    // identity mismatch is structurally impossible: probes read the
    // recorded (bits, hashes, seed) back — there is no parameter to get
    // wrong — so the only remaining misuse is a missing manifest
    intercept[Exception](BloomSkip.prunedRead(spark, dataDir,
      tmp("bs-empty"), Seq(1L)))
  }

  test("kill-point: an interrupted refresh leaves the old manifest serving (X119)") {
    val dataDir = tmp("bs-kp-data")
    val manifestDir = tmp("bs-kp-man")
    writeShards(dataDir)
    BloomSkip.build(spark, dataDir, manifestDir, "k", bits = 4096,
      hashes = 5, seed = "s-kp")
    val handle = graft.core.Table(spark, manifestDir, "bloom_manifest")
    assert(handle.versions == Seq(0L))
    // simulate a refresh crash: staging litter (a half-written version)
    // lands in the versions root but the commit rename never happened
    val litter = new java.io.File(
      s"${handle.versionsRoot}/.staging-v1-killed")
    assert(litter.mkdirs())
    java.nio.file.Files.write(litter.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // truncated garbage, never read
    // the old manifest still serves — words, schema and identity sidecars
    val (df, stats) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(7L))
    assert(stats.filesTotal == 4 && df.count() == 1)
    assert(handle.versions == Seq(0L), "litter must not read as a version")
    // the next successful refresh commits v1 and vacuums v0
    Seq((200L, "row200")).toDF("k", "payload")
      .write.parquet(s"$dataDir/__shard=5")
    assert(BloomSkip.buildIncremental(spark, dataDir, manifestDir) ==
      ((4, 1, 0)))
    assert(handle.versions == Seq(1L))
    assert(BloomSkip.prunedRead(spark, dataDir, manifestDir, Seq(200L))
      ._1.count() == 1)
  }

  test("buildIncremental never collects bit words; carry == full rebuild (X119)") {
    val dataDir = tmp("bs-scale-data")
    val manifestDir = tmp("bs-scale-man")
    // two near-saturated files: ~100k distinct keys × 5 hashes against
    // 2^17 bits — the row-per-bit form would collect ~250k bit rows
    // (tens of MB serialized); the packed form holds ≤ 2×2048 words
    (0L until 100000L).map(i => (i, i % 2)).toDF("k", "__shard")
      .repartition(1).write.partitionBy("__shard")
      .mode("overwrite").parquet(dataDir)
    BloomSkip.build(spark, dataDir, manifestDir, "k")
    // append one small file, then audit the refresh's driver traffic
    Seq((1000000L, 0L)).toDF("k", "__shard").coalesce(1)
      .write.parquet(s"$dataDir/__shard=2")
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          resultBytes.addAndGet(e.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(BloomSkip.buildIncremental(spark, dataDir, manifestDir) ==
        ((2, 1, 0)))
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the refresh returns file LISTS and task metadata to the driver,
    // never the manifest's words: a row-per-bit collect of this manifest
    // would alone exceed ~10 MB serialized
    assert(resultBytes.get() < 4L * 1024 * 1024,
      s"buildIncremental shipped ${resultBytes.get()} bytes to the " +
        "driver — corpus-shaped collect?")
    // and the carried-forward manifest is EXACTLY a full rebuild's
    val incr = graft.core.Table(spark, manifestDir, "bloom_manifest")
      .readLatest
      .select(regexp_extract(col("__bs_file"), "(__shard=\\d+)", 1)
        .as("shard"), col("widx"), col("word"))
      .as[(String, Long, Long)].collect().toSet
    val fullDir = tmp("bs-scale-full")
    BloomSkip.build(spark, dataDir, fullDir, "k")
    val full = graft.core.Table(spark, fullDir, "bloom_manifest")
      .readLatest
      .select(regexp_extract(col("__bs_file"), "(__shard=\\d+)", 1)
        .as("shard"), col("widx"), col("word"))
      .as[(String, Long, Long)].collect().toSet
    assert(incr == full, "incremental carry drifted from a full rebuild")
  }

  test("duplicate / repeated probe values never false-negative (X119)") {
    val dataDir = tmp("bs-dup")
    val manifestDir = tmp("bs-dup-man")
    writeShards(dataDir)
    BloomSkip.build(spark, dataDir, manifestDir, "k", bits = 4096,
      hashes = 5, seed = "s-x119")
    // pre-fix, 3× the same value tripled every (file, __pk) hit count and
    // the `=== hashes` survivor test pruned EVERY file — a silent false
    // negative; probe identity is the stringified value, deduped up front
    val (df, stats) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(7L, 7L, 7L))
    assert(stats.filesKept >= 1, s"duplicate probes false-negatived: $stats")
    assert(df.select("k", "payload").as[(Long, String)].collect().toSeq ==
      Seq((7L, "row7")))
    // mixed duplicates across distinct values keep both matches
    val (df2, _) = BloomSkip.prunedRead(spark, dataDir, manifestDir,
      Seq(7L, 23L, 7L, 23L))
    assert(df2.select("k").as[Long].collect().toSet == Set(7L, 23L))
  }

  test("manifest commit shards by size: multi-file above the rows-per-shard " +
      "threshold, single below (X119)") {
    val dataDir = tmp("bs-shard")
    writeShards(dataDir)
    def versionFiles(manifestDir: String): Int = {
      val t = graft.core.Table(spark, manifestDir, "bloom_manifest")
      val dir = new java.io.File(t.versionPath(t.latestVersion.get))
      dir.listFiles.count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    }
    // word rows here: 40 keys × 5 hashes over 4 files ⇒ well above 16
    val small = tmp("bs-shard-small")
    spark.conf.set(BloomSkip.RowsPerShardConf, "16")
    try {
      BloomSkip.build(spark, dataDir, small, "k", bits = 1 << 17)
      assert(versionFiles(small) > 1,
        "commit above the threshold stayed single-file")
    } finally spark.conf.unset(BloomSkip.RowsPerShardConf)
    // default threshold (8M rows): tiny manifests stay single-file
    val big = tmp("bs-shard-big")
    BloomSkip.build(spark, dataDir, big, "k", bits = 1 << 17)
    assert(versionFiles(big) == 1,
      "small commit fragmented under the default threshold")
    // sharding is write-layout only: prune decisions are unchanged
    val (df, _) = BloomSkip.prunedRead(spark, dataDir, small, Seq(7L))
    assert(df.select("k").as[Long].collect().toSeq == Seq(7L))
  }
}
