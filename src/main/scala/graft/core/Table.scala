package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Named-table handle over a Parquet directory — the Spark-native analog of the
  * reference's `PostgresDataset` (reference: data_preparation_plugin/hooks/dataset.py:62-86).
  *
  * The reference identifies a dataset by `(pg_schema, name)` and uses it as a
  * schema handle, batch source, batch sink, and reflection surface. Here the
  * same surface is a thin veneer over [[Parquet.scan]] / `df.write.parquet`:
  * Parquet is self-describing, so reflection (dataset.py:88-118) is one
  * driver-side footer read — [[read]], [[schema]], [[readVersion]] and
  * [[readLatest]] start no Spark job — and all relational work stays a lazy
  * Catalyst plan until an action.
  *
  * Scale notes (100 TB): every method is either metadata-only (schema) or
  * returns/writes a distributed DataFrame; nothing here collects to the driver
  * except [[iterRows]], which streams one partition at a time by design
  * (it mirrors the reference's row-dict iterator, dataset.py:139-157).
  */
final case class Table(spark: SparkSession, dir: String, name: String) {

  /** Physical location; one parquet dataset (possibly many part files). */
  def path: String = s"$dir/$name.parquet"

  /** Full-table scan (reference `get_dataframe`, dataset.py:120-126). Lazy:
    * Catalyst prunes columns and pushes filters into the parquet scan, so
    * unlike the reference's `SELECT *` this never over-reads. */
  def read: DataFrame = Parquet.scan(spark, path)

  /** Schema handle (reference `read_dtype`, dataset.py:163-170). */
  def schema: StructType = read.schema

  /** Typed view (reference `reflect`, dataset.py:88-118: table → ORM mapped
    * class). Parquet's self-describing schema plays the reflection role; the
    * case-class encoder gives the typed-row access the ORM mapper gave. */
  def typed[T: org.apache.spark.sql.Encoder]: org.apache.spark.sql.Dataset[T] = read.as[T]

  /** Chunked scan (reference `get_dataframes`, dataset.py:128-137). Chunks are
    * partitions in Spark; this only forces an explicit chunk count — normally
    * the scan's own splits (`spark.sql.files.maxPartitionBytes`) are better. */
  def readChunks(numChunks: Int): DataFrame = read.repartition(numChunks)

  /** Rows-per-chunk scan — the reference's exact `get_dataframes(chunksize)`
    * contract (dataset.py:128-137: pandas `chunksize` = rows per chunk, so 5
    * rows at chunksize 2 → 3 chunks). Chunk count = ⌈rows / rowsPerChunk⌉,
    * realized as that many partitions. Costs a count (parquet metadata read)
    * plus a round-robin shuffle; partitions hold `rowsPerChunk` rows only
    * approximately (round-robin balance), which is what a rows-based batch
    * contract needs — exact row placement would force a global sort. */
  def readChunksOf(rowsPerChunk: Long): DataFrame = {
    require(rowsPerChunk > 0, "rowsPerChunk must be positive")
    val n = read.count()
    // integer math end to end: a Double→Int conversion would silently clamp
    // past 2^31 and ask for the driver-killing partition count instead of
    // failing with an actionable message
    val chunks = math.max(1L, (n + rowsPerChunk - 1) / rowsPerChunk)
    require(chunks <= 1000000L,
      s"readChunksOf($rowsPerChunk) on $n rows needs $chunks chunks — beyond any " +
        "sane partition count; raise rowsPerChunk")
    read.repartition(chunks.toInt)
  }

  /** Row-by-row iteration with optional head limit (reference `iter_rows`,
    * dataset.py:139-157). `toLocalIterator` fetches one partition at a time —
    * bounded driver memory even on a huge table. Driver-side by nature; never
    * use inside an operator. */
  def iterRows(head: Option[Int] = None): Iterator[Row] = {
    val df = head.fold(read)(n => read.limit(n))
    df.toLocalIterator().asScala
  }

  /** Append with schema compatibility check (reference `write_dataframe`,
    * dataset.py:49-59: "the dataframe columns must match the table's"). */
  def append(df: DataFrame): Unit = {
    val tgt = Schemas.normalize(schema)
    val src = Schemas.normalize(df.schema)
    require(src == tgt, s"append schema mismatch for $name:\n  table: $tgt\n  frame: $src")
    df.write.mode(SaveMode.Append).parquet(path)
  }

  /** Drop-and-recreate with data (reference `write_dtype` + load semantics;
    * dataset.py:172-187 drops and recreates). */
  def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Replace table with inferred schema and a synthetic `id` column
    * (reference `write_with_schema`, dataset.py:189-201, which lets pandas
    * infer DDL and adds the frame index as `id`).
    *
    * `dense = false` (default) uses `monotonically_increasing_id()` — O(1),
    * no shuffle, ids unique but not consecutive: the right choice at scale.
    * `dense = true` reproduces the reference's consecutive 0..n-1 index via a
    * global `row_number()`, which forces a single-partition window — only for
    * small tables or when an oracle depends on id values. */
  def writeWithSchema(df: DataFrame, dense: Boolean = false): Unit = {
    require(!df.columns.contains("id"),
      s"writeWithSchema injects a synthetic `id` column but the frame already has one " +
        s"(columns: ${df.columns.mkString(", ")}); rename it or use overwrite()")
    val withId =
      if (dense)
        df.withColumn("id", row_number().over(Window.orderBy(monotonically_increasing_id())).cast(LongType) - 1)
      else
        df.withColumn("id", monotonically_increasing_id())
    overwrite(withId.select((col("id") +: df.columns.map(col)).toSeq: _*))
  }

  /** Overwrite with a bounded number of rows per output file — the training-
    * shard writer (dataloaders want bounded shards; a task writing a skewed
    * partition otherwise produces one giant file). `maxRecordsPerFile`
    * splits any oversized task output distributively — no driver-side
    * count. Shards can still come out SMALLER than the bound (one per task
    * tail); pair with `readChunksOf`/`repartition` upstream when uniform
    * shard sizes matter more than an extra shuffle. */
  def overwriteSharded(df: DataFrame, rowsPerShard: Long): Unit = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerShard)
      .parquet(path)
  }

  /** Overwrite with hive-style partitioned layout (`.../col=value/...`).
    * The 100 TB layout tool: queries filtering on `partitionCols` prune
    * whole directories at planning time (PartitionFilters in the scan), and
    * dynamic partition pruning covers join-derived filters. Choose low-
    * cardinality columns (date, source, category); high-cardinality
    * partitioning makes small files. */
  def overwritePartitioned(df: DataFrame, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Overwrite with a BUCKETED layout registered in the session catalog —
    * the co-located-join tool. Two tables bucketed by the same keys into the
    * same bucket count join WITHOUT a shuffle of either side (the scan is
    * already hash-distributed by the join key), and with `sortCols` = the
    * bucket keys the sort-merge join skips its sorts too: the big fact-fact
    * join becomes a pure zip of pre-organized files. That converts the
    * single most expensive recurring operation of a 100 TB pipeline — the
    * repeated fact⋈fact shuffle — into a one-time write-side cost.
    *
    * Bucket metadata lives in the catalog (Spark cannot recover bucketing
    * from bare parquet paths), so bucketed tables are read back with
    * `spark.table(name)`, not a path scan. */
  def overwriteBucketed(df: DataFrame, buckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    // The catalog is a single namespace per session; qualify the identifier
    // with the table's dir so two handles named `t` under different dirs
    // don't stomp each other's catalog entry. Never drop a MANAGED table of
    // the same name — dropping managed deletes its DATA, and a pre-existing
    // managed table is by definition not ours (we only create EXTERNAL).
    if (spark.catalog.tableExists(catalogName)) {
      require(spark.catalog.getTable(catalogName).tableType != "MANAGED",
        s"catalog already holds a MANAGED table `$catalogName` (dropping it would " +
          "delete its data); rename this Table or drop the managed table explicitly")
      spark.sql(s"DROP TABLE IF EXISTS `$catalogName`")
    }
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(catalogName)
  }

  /** Session-catalog identifier for the bucketed face of this table:
    * name + a dir-derived suffix (the dir is the real namespace). The dir
    * is normalized first (Hadoop Path semantics: trailing slashes, `.`
    * segments, double slashes) so two spellings of one directory resolve to
    * ONE catalog entry, and the suffix is 16 hex chars of MD5 so distinct
    * dirs colliding is cryptographically unlikely (String.hashCode's 32
    * bits collide in the thousands-of-dirs range). */
  private def catalogName: String = {
    val normalized = new org.apache.hadoop.fs.Path(dir).toString
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8"))
    s"${name}_${md5.take(8).map(b => f"$b%02x").mkString}"
  }

  /** Catalog read of a bucketed table (bucket-aware scan). */
  def readBucketed: DataFrame = spark.table(catalogName)

  /** Write an empty table with an explicit schema (reference `write_dtype`,
    * dataset.py:172-187: drop + recreate empty). */
  def writeSchema(dtype: StructType): Unit =
    overwrite(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dtype))

  /** Buffered row-at-a-time writer (reference `PostgresDatasetWriter`,
    * dataset.py:13-47). Driver-side convenience for trickle ingest; bulk data
    * should go through [[append]]/[[overwrite]]. */
  def writer(dtype: StructType, chunkSize: Int = 1000): RowWriter =
    new RowWriter(this, dtype, chunkSize)

  /** Rewrite the table into `numFiles` parquet files — the small-files
    * maintenance op (a RowWriter/trickle-append workload leaves one file per
    * flush; thousands of tiny files wreck scan planning at scale). One scan
    * + shuffle + write into a temp dataset, then an atomic-ish directory
    * swap via the Hadoop FileSystem API — works on HDFS/S3A/local alike and
    * avoids a second full rewrite. [[graft.ops.Layout.compact]] is the
    * size-targeted sibling: it derives the file count from total bytes and
    * rewrites via an exchange-FREE coalesce (pure IO, no shuffle) — prefer
    * it when the table is large enough that the repartition network pass
    * dominates; prefer this one when the caller owns the directory swap
    * contract or needs exact output balance. */
  def compact(numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    swapInRewrite(read.repartition(numFiles))
  }

  /** The size-TARGETED, exchange-free sibling of [[compact]]: output file
    * count derives from total bytes (⌈bytes/targetBytes⌉) and the rewrite
    * is a `coalesce` — splits PACK into tasks with no Exchange, so the
    * rewrite stays IO-bound ([[graft.ops.Layout.compact]]'s arithmetic
    * with THIS handle's rename-aside swap). Prefer it for in-loop state
    * maintenance, where a repartition's network pass buys nothing. */
  def compactPacked(targetBytes: Long): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    healSwap() // a crashed swap leaves path missing — the listing would see 0
    val total = listDataFiles().map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    swapInRewrite(read.coalesce(n))
  }

  /** Fragmentation-triggered maintenance — the production cadence (Delta
    * OPTIMIZE / Iceberg rewrite run when fragmentation crosses a line, not
    * unconditionally): one metadata-only listing counts data files; at or
    * under `maxFiles` this is a no-op (a listing, no job), above it the
    * table rewrites via [[compactPacked]]. Returns true when compaction
    * ran. An append-every-batch lifecycle calls this each batch and pays
    * for a rewrite only when accretion actually crossed the threshold. */
  def compactIfFragmented(maxFiles: Int, targetBytes: Long): Boolean = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    healSwap() // a crashed swap reads as 0 files — heal before counting
    if (listDataFiles().size <= maxFiles) false
    else { compactPacked(targetBytes); true }
  }

  /** Metadata-only recursive listing of this table's parquet data files
    * (Hadoop FS — HDFS/S3A/local alike). */
  private def listDataFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
      }
    if (fs.exists(root)) walk(root) else Seq.empty
  }

  /** Shared swap: write `df` to a hidden temp dataset, then hand the
    * directory replacement to [[graft.ops.Layout.swapInDirectory]] — the
    * ONE swap protocol, so Table and hive-partition maintenance share a
    * single crash-window definition and one healer recognizes both kinds
    * of litter. The bad window — between the two renames, where `path` is
    * briefly missing with the data intact in the hidden `.name.__old`
    * backup — is self-healed at entry here (and by any
    * `recoverInterruptedSwap` caller). `df` is by-name: its plan scans
    * `path`, so it must not be CONSTRUCTED (parquet schema resolution
    * lists the path eagerly) until after the heal. */
  private def healSwap(): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Layout.recoverInterruptedSwap(fs, target)
  }

  private def swapInRewrite(df: => DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a previous compact's mid-swap crash BEFORE `df`'s plan is
    // constructed (parquet schema resolution lists `path` eagerly)
    healSwap()
    val tmp = new org.apache.hadoop.fs.Path(target.getParent,
      s".$name.__compacting")
    fs.delete(tmp, true) // stale temp from a previous crashed run
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.ops.Layout.swapInDirectory(fs, target, tmp)
  }

  /** Copy this table to another name (reference `CopyTableOperator`,
    * operators/copy.py:7-17: `CREATE TABLE dst (LIKE src); INSERT ... SELECT`).
    * Schema travels with parquet; "INCLUDING indexes" has no analog — columnar
    * pruning and predicate pushdown replace btree indexes. */
  def copyTo(destination: String): Table = {
    val dst = Table(spark, dir, destination)
    dst.overwrite(read)
    dst
  }

  // ------------------------------------------------------------------
  // Versioned face — engine-level ownership of the read-version-N /
  // write-version-N+1 lifecycle the incremental operators (cdcApply,
  // SCD, cross-batch dedup state) need. Spark reads are LAZY: a plan
  // that references a directory must never have that directory
  // overwritten before the action runs, so in-place refresh of a table
  // a live plan references is inherently unsafe. Versioning solves it
  // structurally: every write lands in a FRESH immutable directory,
  // made visible by one atomic-ish rename (readers either see a
  // complete version or don't see it at all — the same
  // commit-by-rename contract [[compact]] uses for its swap). This is
  // the minimal core of what a table format's transaction log buys,
  // with the version id doubling as the time-travel handle.
  // ------------------------------------------------------------------

  /** Root of the versioned layout (sibling of the flat [[path]]). */
  def versionsRoot: String = s"$dir/$name.__v"

  /** Directory of one version; zero-padded so a lexical listing is also
    * the numeric order. */
  def versionPath(v: Long): String = f"$versionsRoot/v$v%012d.parquet"

  private def versionsFs = new org.apache.hadoop.fs.Path(versionsRoot)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions, ascending. Metadata-only (one directory
    * listing — O(versions), never O(files)); incomplete writes (staging
    * dirs) are invisible because commit is the terminal rename. */
  def versions: Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(versionsRoot)
    val fs = versionsFs
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".parquet") =>
        n.stripPrefix("v").stripSuffix(".parquet") }
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .sorted
  }

  /** Highest committed version, if any. */
  def latestVersion: Option[Long] = versions.lastOption

  /** Commit `df` as the next version and return its id (0 for the first
    * write). The data is fully written to a hidden staging directory
    * first and then renamed into its version path — a reader never
    * observes a half-written version, and a crash leaves only staging
    * litter the next successful commit's readers ignore. Refuses to
    * overwrite an existing version: ids are immutable history. */
  def writeVersion(df: DataFrame): Long =
    writeVersion(df, Map.empty[String, String])

  /** [[writeVersion]] with SIDECAR metadata files committed atomically
    * with the data: each `(name, utf8 content)` entry lands INSIDE the
    * staging directory before the commit rename, so data and sidecars
    * become visible in the same atomic step — the crash-window unifier
    * the skipping manifests (ZoneMaps, BloomSkip) need: an interrupted
    * refresh leaves the PREVIOUS version fully readable, sidecars
    * included, instead of a manifest directory with no manifest. Names
    * must be `_`/`.`-prefixed (Hadoop hidden-file convention) so parquet
    * readers of the version never see them as data. */
  def writeVersion(df: DataFrame, sidecars: Map[String, String]): Long = {
    sidecars.keys.foreach(n => require(
      n.startsWith("_") || n.startsWith("."),
      s"sidecar name '$n' must start with '_' or '.' so parquet reads " +
        "of the version ignore it"))
    require(!sidecars.contains("_manifest.json"),
      "sidecar name _manifest.json is reserved for the commit manifest")
    val v = latestVersion.fold(0L)(_ + 1L)
    val fs = versionsFs
    val target = new org.apache.hadoop.fs.Path(versionPath(v))
    require(!fs.exists(target),
      s"version $v of $name already exists — versions are immutable; " +
        "a concurrent writer won the commit race")
    val staging = new org.apache.hadoop.fs.Path(
      s"$versionsRoot/.staging-v$v-${java.util.UUID.randomUUID}")
    df.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    // Manifest INSIDE the staging dir, so commit-by-rename makes data and
    // metadata visible in the same atomic step (no second store to drift).
    // The `_` prefix keeps it invisible to parquet reads (Hadoop hidden-
    // file convention). Row count comes from the staged files' FOOTERS,
    // read on the driver for small commits — a metadata-only count() job
    // here costs a full scheduling round-trip per commit, which round 11's
    // bench showed as +10-35% on every version-churning streaming query
    // (micro-batch state commits are many and small, so fixed job overhead
    // dominates). Big commits (> 64 files) still count distributed: a
    // driver iterating thousands of footers serially would be the slower
    // and less robust choice there. The schema fingerprint comes from the
    // frame itself — `Schemas.normalize` ignores nullability, the only
    // thing a parquet round-trip can change about it.
    val stagedFiles = fs.listStatus(staging).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val rows =
      if (stagedFiles.length <= 64) {
        val conf = spark.sparkContext.hadoopConfiguration
        stagedFiles.map(st =>
          Parquet.footer(st, conf).getBlocks.asScala.map(_.getRowCount).sum).sum
      } else Parquet.scan(spark, staging.toString).count()
    val manifest =
      s"""{"version":$v,"committed_at_ms":${System.currentTimeMillis()},""" +
        s""""rows":$rows,""" +
        s""""schema_md5":"${Schemas.fingerprint(df.schema)}"}"""
    val mOut = fs.create(new org.apache.hadoop.fs.Path(staging, "_manifest.json"))
    try mOut.write(manifest.getBytes("UTF-8")) finally mOut.close()
    sidecars.foreach { case (n, content) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, n))
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    if (!fs.rename(staging, target)) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"writeVersion: commit rename $staging -> $target failed " +
          "(concurrent writer?); staging cleaned up, history unchanged")
    }
    // sweep ABANDONED staging litter after the commit is durable — the
    // ledger path's grace discipline verbatim: a fresh `.staging-v*` may
    // be a LIVE concurrent writer mid-write (its commit will lose the
    // rename race cleanly, but deleting its files mid-write could
    // truncate what it reports), so only litter older than the grace
    // window (no live write runs for an hour) sweeps. Crashed commits
    // therefore stop accumulating without racing live ones.
    val sweepCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    fs.listStatus(new org.apache.hadoop.fs.Path(versionsRoot)).toSeq
      .foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".staging-v") && st.getModificationTime < sweepCutoff)
          fs.delete(st.getPath, true)
      }
    v
  }

  /** Commit metadata of one version, read from the `_manifest.json` the
    * commit renamed in with the data. Versions written before manifests
    * existed degrade gracefully: `committedAtMs` falls back to the version
    * directory's modification time (set by the commit rename, so still the
    * commit instant on local/HDFS) and rows/schemaMd5 are absent. */
  def versionMeta(v: Long): VersionMeta = {
    require(versions.contains(v),
      s"version $v of $name does not exist (have: ${versions.mkString(",")})")
    val fs = versionsFs
    val dirPath = new org.apache.hadoop.fs.Path(versionPath(v))
    val mPath = new org.apache.hadoop.fs.Path(dirPath, "_manifest.json")
    if (!fs.exists(mPath))
      VersionMeta(v, fs.getFileStatus(dirPath).getModificationTime, None, None)
    else {
      val in = fs.open(mPath)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def longOf(k: String) =
        ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toLong)
      def strOf(k: String) =
        ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))
      VersionMeta(v,
        longOf("committed_at_ms").getOrElse(
          fs.getFileStatus(dirPath).getModificationTime),
        longOf("rows"), strOf("schema_md5"))
    }
  }

  /** One sidecar of one committed version, as UTF-8 text. Absent sidecar
    * (or a pre-sidecar version) raises — a manifest consumer that can't
    * find its schema/identity sidecar must refuse, not guess. */
  def sidecar(v: Long, sidecarName: String): String = {
    require(versions.contains(v),
      s"version $v of $name does not exist (have: ${versions.mkString(",")})")
    val fs = versionsFs
    val p = new org.apache.hadoop.fs.Path(versionPath(v), sidecarName)
    require(fs.exists(p),
      s"version $v of $name has no sidecar '$sidecarName'")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** [[sidecar]] of the latest committed version. */
  def sidecarLatest(sidecarName: String): String = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"$name has no committed versions"))
    sidecar(v, sidecarName)
  }

  /** Time travel by TIMESTAMP — "as of yesterday", the form deployments
    * actually ask for (version ids are an implementation detail nobody
    * remembers a week later): reads the newest version committed at or
    * before `tsMs`. O(versions) manifest reads, all metadata-only. */
  def readAsOf(tsMs: Long): DataFrame = {
    val eligible = versions.filter(v => versionMeta(v).committedAtMs <= tsMs)
    require(eligible.nonEmpty,
      s"$name has no version committed at or before $tsMs" +
        versions.headOption.fold("")(v =>
          s" (earliest commit: ${versionMeta(v).committedAtMs})"))
    readVersion(eligible.max)
  }

  /** Idempotent commit for exactly-once micro-batch sinks: commit `df` as
    * version `v` unless `v` already exists, returning whether a write
    * happened. Structured Streaming's `foreachBatch` re-delivers a batch
    * after a restart with the SAME batchId; a sink that derives its
    * version id from the batchId (v = batchId + 1 over an initial
    * version 0) makes the re-delivery a no-op instead of a double-apply —
    * the same ledger trick every transactional sink plays with
    * (batchId, epoch) bookkeeping, here with the version directory itself
    * as the ledger (no second metadata store to drift from the data).
    * Requires `v` = latest + 1 when absent: version history must stay
    * gap-free or `versions`-based time travel lies. */
  def writeVersionIfAbsent(v: Long, df: => DataFrame): Boolean = {
    require(v >= 0, s"version must be >= 0, got $v")
    val latest = latestVersion
    if (latest.exists(_ >= v)) false
    else {
      require(v == latest.fold(0L)(_ + 1L),
        s"writeVersionIfAbsent($v) would leave a gap: latest is " +
          s"${latest.fold("none")(_.toString)}")
      writeVersion(df) == v || {
        throw new IllegalStateException(
          s"writeVersionIfAbsent($v): a concurrent writer moved the history")
      }
    }
  }

  /** Time-travel read of one committed version. The version directory is
    * immutable, so the returned lazy plan stays valid however many
    * versions land after it. */
  def readVersion(v: Long): DataFrame = {
    require(versions.contains(v),
      s"version $v of $name does not exist (have: ${versions.mkString(",")})")
    Parquet.scan(spark, versionPath(v))
  }

  /** Read the latest committed version. */
  def readLatest: DataFrame = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"$name has no committed versions"))
    Parquet.scan(spark, versionPath(v))
  }

  /** Retention: delete all but the newest `keepLast` versions, returning
    * the ids dropped. Refuses `keepLast < 1` — the live (latest) version
    * is never vacuumable; losing it would turn retention into data loss.
    * Deleting old versions invalidates any still-lazy plans over them —
    * retention is the caller's declaration that nothing references them
    * (the same contract as every table format's VACUUM). */
  def vacuum(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1,
      s"vacuum must keep at least the latest version, got keepLast=$keepLast")
    val all = versions
    val drop = all.dropRight(keepLast)
    val fs = versionsFs
    drop.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(versionPath(v)), true))
    drop
  }

  /** AGE-based retention — the production knob ("keep 7 days", not "keep
    * 40 versions"; commit cadence varies, the compliance window doesn't):
    * deletes every version whose commit timestamp is strictly before
    * `cutoffMs`, ALWAYS excepting the latest — the live version is never
    * vacuumable whatever its age (same stance as [[vacuum]]). The caller
    * computes the cutoff (now − retention); taking an absolute instant
    * rather than an age keeps the method deterministic and replayable.
    * Same contract as every table format's VACUUM: deleting invalidates
    * still-lazy plans over the dropped versions. Returns the ids dropped. */
  def vacuumBefore(cutoffMs: Long): Seq[Long] = {
    val all = versions
    val drop = all.dropRight(1).filter(v => versionMeta(v).committedAtMs < cutoffMs)
    val fs = versionsFs
    drop.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(versionPath(v)), true))
    drop
  }

  // ------------------------------------------------------------------
  // Ledger face — exactly-once APPEND for state that only GROWS.
  // [[writeVersionIfAbsent]] gives exactly-once REPLACEMENT: right for
  // bounded state (a sketch, a CDC snapshot — version N+1 is a full new
  // frame anyway), but O(state) per commit for accreting state: a dedup
  // corpus, shingle sets, band keys. Re-writing a 100 TB corpus to admit
  // one batch's survivors is the wrong asymptote; plain [[append]] has
  // the right asymptote but is at-least-once — a restarted stream
  // re-delivers a batchId and double-appends, which for near-dup state
  // means duplicate band rows fanning candidate pairs forever after.
  // The ledger keeps both properties: one immutable directory PER id,
  // committed by the same staging+rename protocol as versions (readers
  // see a whole delta or none of it; a replayed id no-ops without even
  // building its frame's plan — `df` is by-name), and each commit writes
  // ONLY its batch's rows. This is the append half of a transaction log,
  // with [[ledgerCompact]] as its checkpoint: deltas fold into a single
  // base directory when they fragment, and an id covered by the base
  // still no-ops on replay — compaction never re-opens the
  // exactly-once window.
  //
  // Layout: $dir/$name.__l/
  //   d000000000007.parquet    — delta committed for ledger id 7
  //   base000000000005.parquet — merged prefix covering every id ≤ 5
  // Read = highest base + deltas beyond it; anything else (older bases,
  // deltas a fold superseded but a crash left undeleted, `.staging-*`
  // litter) is ignored and cleaned by the next fold. Ids are gap-free
  // 0..N by construction, mirroring the versioned face. Single-writer
  // per table, like every other mutating face here.
  // ------------------------------------------------------------------

  /** Root of the ledger layout (sibling of [[path]] and [[versionsRoot]]). */
  def ledgerRoot: String = s"$dir/$name.__l"

  /** Directory of one committed delta; zero-padded for lexical order. */
  def ledgerDeltaPath(id: Long): String = f"$ledgerRoot/d$id%012d.parquet"

  private def ledgerBasePath(id: Long): String =
    f"$ledgerRoot/base$id%012d.parquet"

  /** (highest base id, ALL delta ids present — live and superseded),
    * from one directory listing. */
  private def ledgerList(): (Option[Long], Seq[Long]) = {
    val root = new org.apache.hadoop.fs.Path(ledgerRoot)
    val fs = versionsFs
    if (!fs.exists(root)) (None, Seq.empty)
    else {
      val names = fs.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      def ids(prefix: String) = names.filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).stripSuffix(".parquet"))
        .flatMap(s => scala.util.Try(s.toLong).toOption).sorted
      (ids("base").lastOption, ids("d"))
    }
  }

  /** Highest committed ledger id (ids are gap-free, so the committed set
    * is 0..this). Metadata-only. */
  def ledgerMax: Option[Long] = {
    val (base, deltas) = ledgerList()
    (base.toSeq ++ deltas).maxOption
  }

  /** Idempotent append: commit `df` as ledger id `id` unless that id is
    * already covered (a live delta, a superseded one, or the base),
    * returning whether a write happened. The exactly-once contract for
    * `foreachBatch` state sinks, with the delta directory itself as the
    * ledger — id = batchId + 1 over an id-0 initial state is the
    * convention the streaming lifecycles use. Requires id = max + 1 when
    * absent: the committed prefix must stay gap-free or replay
    * bookkeeping lies. Schema-checked against the committed state, same
    * stance as [[append]]. */
  def ledgerAppendIfAbsent(id: Long, df: => DataFrame): Boolean = {
    require(id >= 0, s"ledger id must be >= 0, got $id")
    val max = ledgerMax
    if (max.exists(_ >= id)) false
    else {
      require(id == max.fold(0L)(_ + 1L),
        s"ledgerAppendIfAbsent($id) would leave a gap: max committed is " +
          s"${max.fold("none")(_.toString)}")
      val frame = df
      max.foreach { _ =>
        val tgt = Schemas.normalize(readLedger.schema)
        val src = Schemas.normalize(frame.schema)
        require(src == tgt,
          s"ledger append schema mismatch for $name:\n  state: $tgt\n  frame: $src")
      }
      val fs = versionsFs
      val target = new org.apache.hadoop.fs.Path(ledgerDeltaPath(id))
      val staging = new org.apache.hadoop.fs.Path(
        s"$ledgerRoot/.staging-d$id-${java.util.UUID.randomUUID}")
      frame.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
      if (fs.rename(staging, target)) true
      else {
        fs.delete(staging, true)
        // a concurrent writer landing the SAME id is a replay, not an error
        if (fs.exists(target)) false
        else throw new IllegalStateException(
          s"ledgerAppendIfAbsent($id): commit rename failed with no " +
            "competing delta; staging cleaned up, ledger unchanged")
      }
    }
  }

  /** The committed state: highest base unioned with every delta beyond
    * it. One multi-path parquet scan — Catalyst prunes and pushes into
    * all member directories alike. */
  def readLedger: DataFrame = {
    val (base, deltas) = ledgerList()
    val paths = base.map(ledgerBasePath).toSeq ++
      deltas.filter(d => base.forall(d > _)).map(ledgerDeltaPath)
    require(paths.nonEmpty, s"$name has no committed ledger entries")
    Parquet.scan(spark, paths: _*)
  }

  /** One delta's rows — the healing read for a commit chain whose LATER
    * step crashed (e.g. the bloom-state merge derived from a committed
    * survivor delta). Live until a fold supersedes it; a folded delta's
    * rows are only reachable through [[readLedger]]. */
  def readLedgerDelta(id: Long): DataFrame = {
    val (base, deltas) = ledgerList()
    require(deltas.contains(id),
      if (base.exists(_ >= id))
        s"ledger delta $id of $name was folded into the base by a compaction"
      else s"ledger delta $id of $name was never committed")
    Parquet.scan(spark, ledgerDeltaPath(id))
  }

  /** Checkpoint fold — [[compactIfFragmented]]'s ledger analog: when LIVE
    * deltas exceed `maxDeltas`, merge base + deltas into one new base
    * covering the whole committed prefix, then delete the superseded
    * directories. At or under the threshold this is a listing and no job.
    * Crash-safe by ordering: the new base commits by rename BEFORE any
    * delete, and reads always take the HIGHEST base while ignoring deltas
    * it covers — a crash mid-cleanup leaves stale dirs the next fold
    * removes, never a wrong answer. Returns true when a fold ran.
    * `maxDeltas = 0` folds unconditionally whenever any live delta exists
    * — the terminal "checkpoint everything" call at a lifecycle's end.
    *
    * `fold` rewrites the merged prefix as it becomes the new base — the
    * hook a MATERIALIZED-AGGREGATE ledger needs (X75): partial-aggregate
    * deltas re-aggregate at fold time so the base stays O(groups) instead
    * of O(groups × segments), the Druid/Pinot compaction-rollup. The
    * contract is MERGE-PRESERVATION: for the reader's merge function m,
    * m(fold(rows)) must equal m(rows) — true for any commutative-monoid
    * partial (count/sum/min/max re-aggregation), and trivially for the
    * default identity. fold MUST NOT change the schema (checked): a folded
    * base that later deltas can't union with corrupts the ledger. */
  def ledgerCompact(maxDeltas: Int,
      fold: DataFrame => DataFrame = identity): Boolean = {
    require(maxDeltas >= 0, s"maxDeltas must be >= 0, got $maxDeltas")
    val (base, deltasAll) = ledgerList()
    val live = deltasAll.filter(d => base.forall(d > _))
    if (live.size <= maxDeltas) false
    else {
      val fs = versionsFs
      val newId = live.max
      val staging = new org.apache.hadoop.fs.Path(
        s"$ledgerRoot/.staging-base$newId-${java.util.UUID.randomUUID}")
      val merged = readLedger
      val folded = fold(merged)
      require(Schemas.normalize(folded.schema) == Schemas.normalize(merged.schema),
        s"ledgerCompact fold changed the schema of $name:\n  ledger: " +
          s"${Schemas.normalize(merged.schema)}\n  folded: " +
          s"${Schemas.normalize(folded.schema)}")
      folded.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
      val target = new org.apache.hadoop.fs.Path(ledgerBasePath(newId))
      if (!fs.rename(staging, target)) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"ledgerCompact: base rename failed for $name; staging cleaned " +
            "up, ledger unchanged")
      }
      // cleanup AFTER the new base is durable: EVERY older base (not just
      // the one this fold read — a crash between a previous fold's rename
      // and its cleanup can leave an older-generation base behind), every
      // delta the new base covers, and abandoned staging litter. Staging
      // sweep discipline: `.staging-base*` is ALWAYS this fold's own
      // litter class (folds are single-flight per the class contract), so
      // it sweeps unconditionally — but `.staging-d*` belongs to the
      // APPEND path, whose exactly-once replay tolerates a concurrent
      // same-id writer; deleting a live append's staging mid-write could
      // turn its commit rename into a truncated delta. Those sweep only
      // past a grace window (no live write runs for an hour), so crashed
      // appends still get cleaned without racing live ones.
      val root = new org.apache.hadoop.fs.Path(ledgerRoot)
      val graceMs = 60L * 60 * 1000
      val cutoff = System.currentTimeMillis() - graceMs
      fs.listStatus(root).toSeq.foreach { st =>
        val n = st.getPath.getName
        val staleBase = n.startsWith("base") && n.endsWith(".parquet") &&
          scala.util.Try(n.stripPrefix("base").stripSuffix(".parquet").toLong)
            .toOption.exists(_ < newId)
        val staleStaging = n.startsWith(".staging-base") ||
          (n.startsWith(".staging-") && st.getModificationTime < cutoff)
        if (staleBase || staleStaging)
          fs.delete(new org.apache.hadoop.fs.Path(root, n), true)
      }
      deltasAll.filter(_ <= newId).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(ledgerDeltaPath(d)), true))
      true
    }
  }
}

/** Commit metadata of one table version — what [[Table.writeVersion]]
  * records in the `_manifest.json` that rides the commit rename. `rows`
  * and `schemaMd5` are absent only for versions written before manifests
  * existed. */
final case class VersionMeta(version: Long, committedAtMs: Long,
    rows: Option[Long], schemaMd5: Option[String])

/** Schema manipulation helpers — the reference's "dtype threading" idiom
  * (README.md:73-82, 102-122, 149-153) as StructType functions. */
object Schemas {

  /** Concatenate two schemas and drop duplicate names keeping the first —
    * the `merge_dtype` helper the reference README calls for join outputs
    * (README.md:150-151) but never defines; provided natively here. */
  def mergeDtype(a: StructType, b: StructType): StructType = {
    val seen = scala.collection.mutable.LinkedHashMap[String, StructField]()
    (a.fields ++ b.fields).foreach(f => if (!seen.contains(f.name)) seen(f.name) = f)
    StructType(seen.values.toSeq)
  }

  /** Keep a subset of fields, in the given order (README.md:106-110). */
  def keepDtype(s: StructType, names: Seq[String]): StructType =
    StructType(names.map(n => s(s.fieldIndex(n))))

  /** Schema equality modulo nullability and metadata — parquet append only
    * cares about names and types. */
  def normalize(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => (f.name, f.dataType.sql))

  /** Stable fingerprint of a schema's [[normalize]]d form — md5 hex, the
    * version-manifest drift detector (two versions share a fingerprint iff
    * their schemas agree on names and types, in order). */
  def fingerprint(s: StructType): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalize(s).mkString(";").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
