package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Mirrors the reference's hook test suite
  * (data_preparation_plugin/hooks/tests/test_dataset.py) on the Spark-native
  * Table: schema round-trip, append semantics, chunked writer flush, row
  * iteration, id injection. */
class TableSpec extends SparkSpec {

  private def freshDir(): String =
    Scratch.workDir("table").toString

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType)))

  private def df(rows: (Int, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (i, n) => Row(i, n) }.asJava, schema)
  }

  test("overwrite + read round-trips data and schema (test_write/read_dtype)") {
    val t = Table(spark, freshDir(), "t1")
    t.overwrite(df(1 -> "a", 2 -> "b"))
    assert(t.read.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 2 -> "b"))
    assert(Schemas.normalize(t.schema) == Schemas.normalize(schema))
  }

  test("append requires matching schema and accumulates rows (test_write_dataframe)") {
    val t = Table(spark, freshDir(), "t2")
    t.overwrite(df(1 -> "a", 2 -> "b"))
    t.append(df(3 -> "c", 4 -> "d"))
    assert(t.read.count() == 4)
    val bad = spark.createDataFrame(
      java.util.List.of(Row(java.lang.Long.valueOf(9L))),
      StructType(Seq(StructField("id", LongType))))
    intercept[IllegalArgumentException](t.append(bad))
  }

  test("writeWithSchema injects an id column (test_write_with_schema)") {
    import spark.implicits._
    val t = Table(spark, freshDir(), "t3")
    t.writeWithSchema(Seq("x", "y").toDF("name"), dense = true)
    val got = t.read.orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(t.schema.fieldNames.toSeq == Seq("id", "name"))
    // refuses to shadow an existing id column
    intercept[IllegalArgumentException](t.writeWithSchema(df(1 -> "a")))
  }

  test("RowWriter flushes every chunkSize and on close (test_writer)") {
    val t = Table(spark, freshDir(), "t4")
    t.writeSchema(schema)
    val w = t.writer(schema, chunkSize = 10)
    (1 to 25).foreach(i => w.writeRowMap(Map("id" -> i, "name" -> s"r$i")))
    assert(w.rowsWritten == 25)
    assert(t.read.count() == 20) // two full chunks flushed, 5 buffered
    w.close()
    assert(t.read.count() == 25)
  }

  test("iterRows streams ordered content with head limit (test_iter_rows)") {
    val t = Table(spark, freshDir(), "t5")
    t.overwrite(df((1 to 9).map(i => i -> s"n$i"): _*))
    val head = t.iterRows(head = Some(3)).toSeq
    assert(head.size == 3)
    val all = t.read.orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(all == (1 to 9))
  }

  test("readChunks repartitions to the requested chunk count (test_get_dataframes)") {
    val t = Table(spark, freshDir(), "t6")
    t.overwrite(df((1 to 5).map(i => i -> s"n$i"): _*))
    assert(t.readChunks(3).rdd.getNumPartitions == 3)
  }

  test("readChunksOf honors rows-per-chunk semantics (get_dataframes chunksize)") {
    // the reference's own fixture: 5 rows at chunksize 2 -> 3 chunks
    val t = Table(spark, freshDir(), "t6b")
    t.overwrite(df((1 to 5).map(i => i -> s"n$i"): _*))
    val chunks = t.readChunksOf(2)
    assert(chunks.rdd.getNumPartitions == 3)
    assert(chunks.count() == 5)
    // one oversized chunk requested -> everything in a single chunk
    assert(t.readChunksOf(100).rdd.getNumPartitions == 1)
  }

  test("copyTo clones data and schema (CopyTableOperator)") {
    val dir = freshDir()
    val src = Table(spark, dir, "src")
    src.overwrite(df(1 -> "a", 2 -> "b"))
    val dst = src.copyTo("dst")
    assert(dst.read.count() == 2)
    assert(Schemas.normalize(dst.schema) == Schemas.normalize(src.schema))
  }

  test("compact rewrites many small files into the requested count") {
    val t = Table(spark, freshDir(), "t9")
    t.writeSchema(schema)
    (1 to 6).foreach(i => t.append(df(i -> s"n$i")))
    def parquetFiles = new java.io.File(t.path).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(parquetFiles >= 6)
    t.compact(2)
    assert(parquetFiles == 2)
    assert(t.read.count() == 6)
    val tmpPath = t.path.replace("t9.parquet", "t9.__compacting.parquet")
    assert(!new java.io.File(tmpPath).exists())
  }

  test("overwriteSharded bounds rows per output file (training shards)") {
    val t = Table(spark, freshDir(), "shards")
    t.overwriteSharded(spark.range(1000).repartition(2).toDF(), rowsPerShard = 300)
    val files = new java.io.File(t.path).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    // 2 tasks × 500 rows at a 300-row bound → each task splits into 300+200
    assert(files.length >= 4, s"expected split shards, got ${files.length}")
    for (f <- files) {
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 300, s"shard ${f.getName} holds $n rows > 300")
    }
    assert(t.read.count() == 1000)
  }

  test("overwriteBucketed: co-located join runs with zero exchanges") {
    val dir = freshDir()
    val facts = spark.range(1000).selectExpr("id AS k", "id * 2 AS v1")
    val other = spark.range(1000).selectExpr("id AS k", "id * 3 AS v2")
    val ta = Table(spark, dir, "bucket_a")
    val tb = Table(spark, dir, "bucket_b")
    ta.overwriteBucketed(facts, buckets = 4, bucketCols = Seq("k"), sortCols = Seq("k"))
    tb.overwriteBucketed(other, buckets = 4, bucketCols = Seq("k"), sortCols = Seq("k"))
    // force the non-broadcast path (tiny test tables would broadcast and the
    // planner then ignores bucketing); at fact-fact scale SMJ is the real plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ta.readBucketed.join(tb.readBucketed, "k")
      val plan = joined.queryExecution.executedPlan.toString
      // both sides arrive hash-distributed and sorted by the bucket key:
      // the join must not shuffle (no hashpartitioning exchange) and the
      // scans must be bucket-aware
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucket-aware:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("overwriteBucketed: same name under different dirs keeps separate catalog entries") {
    val dirA = freshDir()
    val dirB = freshDir()
    val ta = Table(spark, dirA, "bucket_ns")
    val tb = Table(spark, dirB, "bucket_ns")
    ta.overwriteBucketed(spark.range(5).selectExpr("id AS k"), 2, Seq("k"))
    tb.overwriteBucketed(spark.range(9).selectExpr("id AS k"), 2, Seq("k"))
    // a second handle under another dir must NOT have stomped the first
    assert(ta.readBucketed.count() == 5)
    assert(tb.readBucketed.count() == 9)
    // different SPELLING of the same dir resolves to the same catalog entry
    assert(Table(spark, dirA + "/", "bucket_ns").readBucketed.count() == 5)
  }

  test("overwriteBucketed refuses to drop a pre-existing MANAGED table") {
    val dir = freshDir()
    val t = Table(spark, dir, "bucket_managed")
    // occupy the dir-qualified identifier with a MANAGED table (data lives in
    // the warehouse; dropping it would delete that data)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(new org.apache.hadoop.fs.Path(dir).toString.getBytes("UTF-8"))
    val ident = s"bucket_managed_${md5.take(8).map(b => f"$b%02x").mkString}"
    spark.range(3).write.saveAsTable(ident)
    try {
      val e = intercept[IllegalArgumentException](
        t.overwriteBucketed(spark.range(5).selectExpr("id AS k"), 2, Seq("k")))
      assert(e.getMessage.contains("MANAGED"))
      assert(spark.table(ident).count() == 3) // untouched
    } finally spark.sql(s"DROP TABLE IF EXISTS `$ident`")
  }

  test("overwritePartitioned lays out hive partitions and prunes on read") {
    import org.apache.spark.sql.functions.col
    val t = Table(spark, freshDir(), "t8")
    t.overwritePartitioned(
      df(1 -> "a", 2 -> "b", 3 -> "a").withColumn("cat",
        org.apache.spark.sql.functions.when(col("id") === 2, "y").otherwise("x")),
      "cat")
    assert(Files.list(java.nio.file.Paths.get(t.path)).toArray.map(_.toString)
      .exists(_.contains("cat=x")))
    val q = t.read.filter(col("cat") === "x")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cat"))
    assert(q.count() == 2)
  }

  test("typed gives Dataset[T] access over the self-describing schema (test_reflect)") {
    import spark.implicits._
    val t = Table(spark, freshDir(), "t7")
    t.overwrite(df(1 -> "a", 2 -> "b"))
    val ds = t.typed[TableSpec.Rec]
    assert(ds.collect().map(_.name).sorted.toSeq == Seq("a", "b"))
  }

  test("mergeDtype dedups columns keeping first (README merge_dtype)") {
    val a = StructType(Seq(StructField("id", IntegerType), StructField("x", StringType)))
    val b = StructType(Seq(StructField("id", LongType), StructField("y", StringType)))
    assert(Schemas.mergeDtype(a, b).fieldNames.toSeq == Seq("id", "x", "y"))
    assert(Schemas.mergeDtype(a, b)("id").dataType == IntegerType)
  }

  test("compactPacked + compactIfFragmented: gated, content-identical, packs files") {
    val t = Table(spark, freshDir(), "cf")
    t.overwrite(df(1 -> "a", 2 -> "b"))
    (3 to 12).foreach(i => t.append(df(i -> s"v$i"))) // accrete small files
    def nFiles() = new java.io.File(t.path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = nFiles()
    assert(before > 8, s"fixture did not fragment: $before files")
    // under the threshold: no-op, no rewrite
    assert(!t.compactIfFragmented(maxFiles = before, targetBytes = 1L << 20))
    assert(nFiles() == before)
    // over the threshold: packed rewrite, content identity, fewer files
    assert(t.compactIfFragmented(maxFiles = 8, targetBytes = 1L << 20))
    assert(nFiles() < before && nFiles() >= 1)
    assert(t.read.orderBy("id").collect().map(_.getInt(0)).toSeq == (1 to 12))
    // now defragmented: gate is quiescent again
    assert(!t.compactIfFragmented(maxFiles = 8, targetBytes = 1L << 20))
    intercept[IllegalArgumentException](t.compactIfFragmented(0, 1L << 20))
    intercept[IllegalArgumentException](t.compactPacked(0))
  }

  test("compaction self-heals a swap crashed between its two renames") {
    val t = Table(spark, freshDir(), "ch")
    t.overwrite(df(1 -> "a", 2 -> "b"))
    (3 to 10).foreach(i => t.append(df(i -> s"v$i")))
    // simulate the crash window: live dir renamed aside, rename-in never ran
    val live = new java.io.File(t.path)
    val backup = new java.io.File(live.getParent, s".${live.getName}.__old")
    assert(live.renameTo(backup) && !live.exists())
    // the gate heals BEFORE counting — a missing live dir must not read as
    // "0 files, nothing to do" while the data hides in the backup
    assert(t.compactIfFragmented(maxFiles = 4, targetBytes = 1L << 20))
    assert(live.exists() && !backup.exists())
    assert(t.read.orderBy("id").collect().map(_.getInt(0)).toSeq == (1 to 10))
  }

  test("RowWriter mid-swap: a backed-up table is EXISTING, not absent") {
    val t = Table(spark, freshDir(), "rw_swap")
    t.overwrite(df(1 -> "a"))
    // the rename-aside window of a concurrent compact: root missing, data
    // in the hidden backup — the one moment an EXISTING table has no root
    val live = new java.io.File(t.path)
    val backup = new java.io.File(live.getParent, s".${live.getName}.__old")
    assert(live.renameTo(backup) && !live.exists())
    // a writer with a MISMATCHED dtype must not be waived through the
    // schema guard as "no table yet" — the failure must be loud
    val otherDtype = StructType(Seq(StructField("id", LongType),
      StructField("other", LongType)))
    val w = t.writer(otherDtype, chunkSize = 1)
    intercept[Exception](w.writeRow(Row(1L, 2L)))
    assert(!live.exists() && backup.exists(),
      "the guard must not have written through the swap window")
    // once the swap heals, the normal mismatch refusal takes over
    assert(backup.renameTo(live))
    intercept[IllegalArgumentException](
      t.writer(otherDtype, chunkSize = 1).writeRow(Row(1L, 2L)))
  }

  test("IvfPqIndex.maintain restores a cell lost to a crashed swap") {
    import scala.jdk.CollectionConverters._
    import graft.sim.IvfPqIndex
    val root = freshDir()
    val idx = s"$root/idx"
    val codebooks = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = spark.createDataFrame(
      (0 until 40).map(i => Row(i.toLong,
        Array(((i * 31) % 97) / 97.0f, ((i * 17) % 89) / 89.0f))).toList.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    IvfPqIndex.build(vecs, "vec_id", "embedding", codebooks, centroids, idx)
    val cells = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell=")).sortBy(_.getName)
    assert(cells.length >= 2)
    // crash one cell's swap: live dir gone, data in the hidden backup
    val victim = cells.head
    val backup = new java.io.File(victim.getParent, s".${victim.getName}.__old")
    assert(victim.renameTo(backup) && !victim.exists())
    // the lost cell is invisible to a plain listing — maintain must heal it
    IvfPqIndex.maintain(spark, idx, maxFilesPerCell = 100, targetBytes = 1L << 20)
    assert(victim.exists() && !backup.exists(),
      "maintain did not restore the crashed cell")
    assert(spark.read.parquet(idx).count() == 40)
  }

  test("versioned handle: write/read/time-travel across immutable versions") {
    val t = Table(spark, freshDir(), "vt")
    assert(t.versions.isEmpty && t.latestVersion.isEmpty)
    intercept[IllegalStateException](t.readLatest)
    assert(t.writeVersion(df(1 -> "a", 2 -> "b")) == 0L)
    assert(t.writeVersion(df(1 -> "a", 2 -> "B", 3 -> "c")) == 1L)
    assert(t.versions == Seq(0L, 1L) && t.latestVersion.contains(1L))
    // time travel: version 0 reads back its original content AFTER v1 landed
    assert(t.readVersion(0L).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(1 -> "a", 2 -> "b"))
    assert(t.readLatest.count() == 3)
    // a lazy plan over an old version survives later commits (immutability)
    val lazyV0 = t.readVersion(0L)
    assert(t.writeVersion(df(9 -> "z")) == 2L)
    assert(lazyV0.count() == 2)
    intercept[IllegalArgumentException](t.readVersion(7L))
  }

  test("versioned handle: vacuum keeps the newest, refuses to drop the live version") {
    val t = Table(spark, freshDir(), "vv")
    (0 until 4).foreach(i => t.writeVersion(df(i -> s"v$i")))
    // keepLast < 1 would vacuum the live version — data loss, refused
    intercept[IllegalArgumentException](t.vacuum(keepLast = 0))
    assert(t.versions == Seq(0L, 1L, 2L, 3L))
    assert(t.vacuum(keepLast = 2) == Seq(0L, 1L))
    assert(t.versions == Seq(2L, 3L))
    // vacuumed versions are gone; survivors read fine
    intercept[IllegalArgumentException](t.readVersion(0L))
    assert(t.readVersion(2L).collect().head.getInt(0) == 2)
    // idempotent when nothing is old enough
    assert(t.vacuum(keepLast = 2).isEmpty)
    // next commit continues the id sequence past the vacuumed history
    assert(t.writeVersion(df(4 -> "v4")) == 4L)
  }

  test("versioned handle: writeVersionIfAbsent is the exactly-once ledger") {
    val t = Table(spark, freshDir(), "vi")
    // first delivery: writes
    assert(t.writeVersionIfAbsent(0L, df(1 -> "a")))
    assert(t.writeVersionIfAbsent(1L, df(1 -> "b")))
    // re-delivery (the restart replay): skipped, and the by-name frame is
    // NEVER evaluated — a replay must not even build the apply plan
    assert(!t.writeVersionIfAbsent(0L,
      sys.error("replayed commit evaluated its frame")))
    assert(!t.writeVersionIfAbsent(1L,
      sys.error("replayed commit evaluated its frame")))
    assert(t.versions == Seq(0L, 1L))
    assert(t.readLatest.collect().head.getString(1) == "b")
    // a version that would leave a gap is refused (history must stay
    // contiguous or time travel lies)
    intercept[IllegalArgumentException](t.writeVersionIfAbsent(5L, df(9 -> "z")))
    intercept[IllegalArgumentException](t.writeVersionIfAbsent(-1L, df(9 -> "z")))
    // the next in-sequence id still writes
    assert(t.writeVersionIfAbsent(2L, df(2 -> "c")))
  }

  test("versioned handle: crash staging litter is invisible to versions()") {
    val t = Table(spark, freshDir(), "vs")
    t.writeVersion(df(1 -> "a"))
    // simulate a writer that died before its commit rename
    val litter = new java.io.File(t.versionsRoot, ".staging-v1-deadbeef")
    assert(litter.mkdirs())
    java.nio.file.Files.writeString(
      litter.toPath.resolve("part-00000.parquet"), "not a commit")
    assert(t.versions == Seq(0L), "staging dir leaked into version history")
    // and the next real commit is unaffected
    assert(t.writeVersion(df(2 -> "b")) == 1L)
    assert(t.readLatest.count() == 1)
  }

  test("versioned handle: a write refused in its plan commits nothing and leaves no staging dir") {
    // the cdcApply-into-writeVersion shape of the streaming CDC queries:
    // the malformed-row refusal fires inside the write job
    import spark.implicits._
    val t = Table(spark, freshDir(), "refused")
    t.writeVersion(Seq((1L, "a")).toDF("k", "v"))
    val log = Seq((2L, "b", 1L, "Z")).toDF("k", "v", "seq", "op")
    refused("malformed CDC log row (op 'Z', keys 2)")(t.writeVersion(
      graft.ops.Ops.cdcApply(t.readLatest, log, Seq("k"), "seq", "op")))
    assert(t.versions == Seq(0L))
    assert(new java.io.File(t.versionsRoot).list().toSeq.sorted ==
      Seq(new java.io.File(t.versionPath(0L)).getName))
    // a refusal in the write's own tasks (no shuffle before it) fails
    // after the write made its staging dir: the dir goes too
    refused("refused-write")(t.writeVersion(Refuse.rows(
      Seq((3L, "c")).toDF("k", "v"), (col("k") > 2) -> lit("refused-write"))))
    assert(t.versions == Seq(0L))
    assert(new java.io.File(t.versionsRoot).list().toSeq.sorted ==
      Seq(new java.io.File(t.versionPath(0L)).getName))
    // the next clean apply commits as version 1
    val ok = Seq((2L, "b", 1L, "I")).toDF("k", "v", "seq", "op")
    assert(t.writeVersion(
      graft.ops.Ops.cdcApply(t.readLatest, ok, Seq("k"), "seq", "op")) == 1L)
    assert(t.readLatest.count() == 2)
  }

  test("version manifests: timestamp, row count, schema fingerprint ride the commit") {
    val t = Table(spark, freshDir(), "vm")
    val before = System.currentTimeMillis()
    t.writeVersion(df(1 -> "a", 2 -> "b", 3 -> "c"))
    val after = System.currentTimeMillis()
    val m = t.versionMeta(0L)
    assert(m.version == 0L)
    assert(m.committedAtMs >= before && m.committedAtMs <= after,
      s"commit instant ${m.committedAtMs} outside [$before, $after]")
    assert(m.rows.contains(3L))
    assert(m.schemaMd5.contains(Schemas.fingerprint(schema)))
    // a version with a different schema carries a different fingerprint
    t.writeVersion(df(4 -> "d").withColumn("extra",
      org.apache.spark.sql.functions.lit(1.5)))
    assert(t.versionMeta(1L).schemaMd5.isDefined &&
      t.versionMeta(1L).schemaMd5 != m.schemaMd5)
    intercept[IllegalArgumentException](t.versionMeta(9L))
    // manifest-less history (pre-manifest versions) degrades gracefully:
    // mtime stands in for the commit instant, rows/fingerprint absent
    val mf = new java.io.File(new java.io.File(t.versionPath(0L)
      .stripPrefix("file:")), "_manifest.json")
    assert(mf.exists() && mf.delete())
    val legacy = t.versionMeta(0L)
    assert(legacy.committedAtMs > 0 && legacy.rows.isEmpty &&
      legacy.schemaMd5.isEmpty)
  }

  test("readAsOf: time travel by timestamp picks the newest commit <= ts") {
    val t = Table(spark, freshDir(), "va")
    t.writeVersion(df(1 -> "day0"))
    val t0 = t.versionMeta(0L).committedAtMs
    Thread.sleep(5) // distinct commit instants on a coarse clock
    t.writeVersion(df(1 -> "day1", 2 -> "day1"))
    val t1 = t.versionMeta(1L).committedAtMs
    assert(t.readAsOf(t0).collect().map(_.getString(1)).toSeq == Seq("day0"))
    assert(t.readAsOf(t1).count() == 2)
    assert(t.readAsOf(Long.MaxValue).count() == 2)
    // asking for history before the first commit is an error, not v0
    intercept[IllegalArgumentException](t.readAsOf(t0 - 1))
  }

  test("vacuumBefore: age retention never drops the live version") {
    val t = Table(spark, freshDir(), "vb")
    (0 until 3).foreach(i => t.writeVersion(df(i -> s"v$i")))
    // cutoff beyond every commit: v0 and v1 age out, the live v2 survives
    // whatever its age
    assert(t.vacuumBefore(Long.MaxValue) == Seq(0L, 1L))
    assert(t.versions == Seq(2L))
    // idempotent, and a cutoff before all commits drops nothing
    assert(t.vacuumBefore(Long.MaxValue).isEmpty)
    assert(t.writeVersion(df(3 -> "v3")) == 3L)
    assert(t.vacuumBefore(0L).isEmpty)
    assert(t.versions == Seq(2L, 3L))
  }

  test("schema evolution across versions: old reads unchanged, latest sees the column") {
    val t = Table(spark, freshDir(), "ve")
    t.writeVersion(df(1 -> "a", 2 -> "b"))
    // widened schema at N+1 — versions are independent immutable dirs, so
    // no append-style schema gate applies across commits
    t.writeVersion(df(1 -> "a", 2 -> "b").withColumn("score",
      org.apache.spark.sql.functions.col("id") * 2.0))
    assert(t.readVersion(0L).columns.toSeq == Seq("id", "name"))
    assert(t.readLatest.columns.toSeq == Seq("id", "name", "score"))
    assert(t.readLatest.selectExpr("sum(score)").collect().head.getDouble(0) == 6.0)
    // the fingerprint trail records the evolution
    assert(t.versionMeta(0L).schemaMd5 != t.versionMeta(1L).schemaMd5)
  }

  test("ledger: idempotent appends, gap refusal, schema gate") {
    val t = Table(spark, freshDir(), "lg")
    assert(t.ledgerMax.isEmpty)
    intercept[IllegalArgumentException](t.readLedger)
    // first delivery writes; ids must open at 0
    intercept[IllegalArgumentException](t.ledgerAppendIfAbsent(1L, df(1 -> "a")))
    assert(t.ledgerAppendIfAbsent(0L, df(1 -> "a")))
    assert(t.ledgerAppendIfAbsent(1L, df(2 -> "b")))
    // replay: skipped, by-name frame never evaluated
    assert(!t.ledgerAppendIfAbsent(0L,
      sys.error("replayed ledger append evaluated its frame")))
    assert(!t.ledgerAppendIfAbsent(1L,
      sys.error("replayed ledger append evaluated its frame")))
    assert(t.ledgerMax.contains(1L))
    assert(t.readLedger.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(1 -> "a", 2 -> "b"))
    // gaps refused; growing state cannot change shape mid-stream
    intercept[IllegalArgumentException](t.ledgerAppendIfAbsent(5L, df(9 -> "z")))
    intercept[IllegalArgumentException](t.ledgerAppendIfAbsent(2L,
      df(3 -> "c").withColumnRenamed("name", "nom")))
    // a delta is individually readable until folded
    assert(t.readLedgerDelta(1L).collect().head.getString(1) == "b")
    intercept[IllegalArgumentException](t.readLedgerDelta(7L))
  }

  test("ledger: fold compacts to one base, replay still no-ops, reads unchanged") {
    val t = Table(spark, freshDir(), "lf")
    (0 until 4).foreach(i => assert(t.ledgerAppendIfAbsent(i, df(i -> s"d$i"))))
    // under threshold: a listing, no fold
    assert(!t.ledgerCompact(maxDeltas = 4))
    // over threshold: deltas fold into base000...003
    assert(t.ledgerCompact(maxDeltas = 2))
    assert(new java.io.File(t.ledgerRoot.stripPrefix("file:")).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("d")) == 0,
      "folded deltas should be deleted")
    // content identical after the fold
    assert(t.readLedger.orderBy("id").collect().map(_.getInt(0)).toSeq ==
      Seq(0, 1, 2, 3))
    // CRITICAL: ids covered by the base still replay as no-ops — folding
    // must never re-open the exactly-once window
    (0 until 4).foreach(i => assert(!t.ledgerAppendIfAbsent(i,
      sys.error("folded id re-committed after compaction"))))
    // the sequence continues past the base
    assert(t.ledgerAppendIfAbsent(4L, df(4 -> "d4")))
    assert(t.readLedger.count() == 5)
    // a folded delta is no longer individually readable, with a clear why
    val err = intercept[IllegalArgumentException](t.readLedgerDelta(0L))
    assert(err.getMessage.contains("folded"))
    // a second fold absorbs the base plus the new delta
    assert(t.ledgerCompact(maxDeltas = 0))
    assert(t.readLedger.count() == 5 && t.ledgerMax.contains(4L))
  }

  test("ledger: crash litter (staging, half-cleaned fold) never changes reads") {
    val t = Table(spark, freshDir(), "lc")
    (0 until 3).foreach(i => assert(t.ledgerAppendIfAbsent(i, df(i -> s"d$i"))))
    // staging litter from a commit that died pre-rename
    val litter = new java.io.File(t.ledgerRoot.stripPrefix("file:"),
      ".staging-d3-deadbeef")
    assert(litter.mkdirs())
    assert(t.ledgerMax.contains(2L) && t.readLedger.count() == 3)
    // a fold that crashed between base-rename and cleanup: simulate by
    // folding, then re-creating a superseded delta dir — reads must take
    // the highest base and IGNORE the stale delta
    assert(t.ledgerCompact(maxDeltas = 1))
    val stale = new java.io.File(t.ledgerRoot.stripPrefix("file:"))
    t.readLedger.filter("id = 0").write.mode("overwrite")
      .parquet(new java.io.File(stale, "d000000000000.parquet").toString)
    assert(t.readLedger.count() == 3, "stale covered delta double-counted")
    assert(!t.ledgerAppendIfAbsent(0L, sys.error("stale delta re-opened id 0")))
    // an older-generation base a crashed fold's cleanup left behind
    t.readLedger.filter("id = 0").write.mode("overwrite")
      .parquet(new java.io.File(stale, "base000000000000.parquet").toString)
    assert(t.readLedger.count() == 3, "stale base must lose to the highest base")
    // the next fold clears the superseded delta and the older-generation
    // base — but append-staging litter is only swept once it AGES OUT of
    // the grace window: a fresh `.staging-d*` may be a LIVE concurrent
    // append mid-write, and deleting it could truncate that commit
    assert(t.ledgerAppendIfAbsent(3L, df(3 -> "d3")))
    assert(t.ledgerCompact(maxDeltas = 0))
    assert(t.readLedger.count() == 4)
    assert(!new java.io.File(stale, "d000000000000.parquet").exists())
    assert(!new java.io.File(stale, "base000000000000.parquet").exists(),
      "older-generation base leaked past a fold")
    assert(litter.exists(),
      "fresh append staging swept mid-grace — a live concurrent append " +
        "could have been truncated")
    // age the litter past the grace window: the next fold sweeps it
    assert(litter.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    assert(t.ledgerAppendIfAbsent(4L, df(4 -> "d4")))
    assert(t.ledgerCompact(maxDeltas = 0))
    assert(!litter.exists(), "aged-out staging litter leaked past a fold")
  }
  test("writeVersion sweeps AGED staging litter, never fresh (X59)") {
    val t = Table(spark, freshDir(), "tsw")
    t.writeVersion(df(1 -> "a"))
    // aged litter: a crashed writer from over an hour ago
    val aged = new java.io.File(s"${t.versionsRoot}/.staging-v1-crashed")
    assert(aged.mkdirs())
    java.nio.file.Files.write(aged.toPath.resolve("part-0.parquet"),
      Array[Byte](1))
    assert(aged.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    // fresh litter: could be a LIVE concurrent writer mid-write
    val fresh = new java.io.File(s"${t.versionsRoot}/.staging-v1-live")
    assert(fresh.mkdirs())
    t.writeVersion(df(2 -> "b"))
    assert(!aged.exists(), "aged staging litter leaked past a commit")
    assert(fresh.exists(),
      "fresh staging swept mid-grace — a live writer could be truncated")
    // neither litter class ever read as a version
    assert(t.versions == Seq(0L, 1L))
  }

  test("writeVersion commits sidecars atomically with the data (X59)") {
    val t = Table(spark, freshDir(), "tsc")
    val v0 = t.writeVersion(df(1 -> "a"),
      Map("_meta.json" -> """{"k":1}""", ".note" -> "hello"))
    assert(v0 == 0L)
    assert(t.sidecar(0L, "_meta.json") == """{"k":1}""")
    assert(t.sidecarLatest(".note") == "hello")
    // sidecars never leak into the data read
    assert(t.readVersion(0L).count() == 1)
    // sidecars version with the data: v1 carries its own copy
    t.writeVersion(df(2 -> "b"), Map("_meta.json" -> """{"k":2}"""))
    assert(t.sidecar(0L, "_meta.json") == """{"k":1}""")
    assert(t.sidecarLatest("_meta.json") == """{"k":2}""")
    // a version without the sidecar refuses rather than guesses
    intercept[IllegalArgumentException](t.sidecar(1L, ".note"))
    // non-hidden names would read back as data — refused up front
    intercept[IllegalArgumentException](
      t.writeVersion(df(3 -> "c"), Map("meta.json" -> "x")))
    // the commit-manifest name is reserved
    intercept[IllegalArgumentException](
      t.writeVersion(df(3 -> "c"), Map("_manifest.json" -> "x")))
  }
}

object TableSpec {
  final case class Rec(id: Int, name: String)
}
