package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical layout clustering for scan pruning at scale.
  *
  * Parquet data skipping works through per-row-group min/max statistics: a
  * predicate can skip a row group only when the filtered column's values
  * are LOCALLY narrow. Sorting by one column gives that column perfect
  * locality and every other column none — a 100 TB table queried by both
  * `ts` and `user_id` prunes on whichever the sort chose and scans
  * everything for the other. Z-ORDER (Morton-curve) clustering interleaves
  * the bits of several columns so every clustered column gets bounded
  * per-row-group ranges: each dimension keeps ~1/2^(b/d) locality instead
  * of one dimension keeping all of it.
  */
object Layout {

  /** Cluster `df` along the Morton curve of `cols` — write the result with
    * any sink and every listed column supports min/max pruning.
    *
    * Mechanics: one aggregation computes per-column min/max (broadcast
    * back, no driver collect); each column scales to a `bits`-bit integer
    * rank; ranks interleave bit-by-bit into one z-value; a range
    * repartition + in-partition sort on the z-value produces runs where
    * ALL clustered columns are locally narrow. Cost: the min/max scan +
    * ONE range shuffle — the same price as a plain global sort, buying
    * pruning on d columns instead of one.
    *
    * Numeric and timestamp columns only, ENFORCED — the rank is affine in
    * the value, and a column whose double-cast fails (a string) would
    * silently rank 0 everywhere, clustering nothing while the caller
    * believes it prunes. Cast dates to timestamp (and strings to a numeric
    * surrogate) upstream. NULLs rank 0 (cluster together at the curve
    * origin, the same convention as NULLS FIRST). A constant column
    * (min = max) ranks 0 everywhere and degrades gracefully to ignoring
    * that dimension. */
  def zOrderBy(df: DataFrame, cols: Seq[String], bits: Int = 16,
      numPartitions: Option[Int] = None): DataFrame = {
    require(cols.size >= 2,
      s"zOrderBy needs at least 2 columns (one column = plain sort), got $cols")
    require(bits >= 1, s"bits must be positive, got $bits")
    require(bits * cols.size <= 62,
      s"bits*cols must fit a signed long: $bits*${cols.size} > 62")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"column(s) not in schema: ${missing.mkString(",")}")
    require(!df.columns.contains("__z"), "column name __z is reserved by zOrderBy")
    cols.foreach { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.TimestampType => ()
        case other => throw new IllegalArgumentException(
          s"zOrderBy column '$c' must be numeric or timestamp, got " +
            s"${other.simpleString}; cast dates to timestamp or map strings " +
            "to a numeric surrogate upstream")
      }
    }

    val d = cols.size
    val maxRank = (1L << bits) - 1
    val stats = df.agg(
      cols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).head,
      cols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).tail: _*)
    // rank ∈ [0, 2^bits): affine scale of the value between min and max;
    // the guard keeps a constant column (span 0) at rank 0 instead of NaN
    def rank(c: String): Column = {
      val span = col(s"__mx_$c") - col(s"__mn_$c")
      coalesce(
        when(span > 0, floor(
          (col(c).cast("double") - col(s"__mn_$c")) / span * maxRank))
          .otherwise(0L).cast("long"),
        lit(0L))
    }
    // Morton interleave: bit b of dimension i lands at position b*d + i
    val z = (0 until d).flatMap { i =>
      (0 until bits).map { b =>
        shiftleft(shiftright(rank(cols(i)), b).bitwiseAND(1), b * d + i)
      }
    }.reduce(_.bitwiseOR(_))

    val withZ = df.crossJoin(broadcast(stats)).withColumn("__z", z)
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
    val parted = numPartitions match {
      case Some(n) => withZ.repartitionByRange(n, col("__z"))
      case None => withZ.repartitionByRange(col("__z"))
    }
    parted.sortWithinPartitions(col("__z")).drop("__z")
  }

  /** Bucketed table write: pay the hash shuffle ONCE at write time.
    * `numBuckets` hash buckets on `bucketCols` (optionally bucket-sorted on
    * `sortCols`) — every later equi-join or aggregation keyed on those
    * columns then reads co-located, pre-sorted data and plans WITHOUT an
    * Exchange: bucketed scan → (zip of matching buckets) → join/agg. For
    * the repeatedly-joined 100 TB fact table this converts the dominant
    * per-query cost (re-shuffling the big side on every join) into a
    * one-time write-side cost; two tables bucketed the same way join with
    * ZERO shuffle on either side ([[graft.plans.PlanAuditSpec]] pins that
    * plan shape). The pruning story (Z-order, above) and the shuffle story
    * (bucketing, here) compose: bucket by the join key, sort or Z-order
    * within buckets by the scan predicates.
    *
    * Registered via `saveAsTable` with an explicit `path` (an EXTERNAL
    * table): Spark persists bucketing metadata only through a catalog —
    * a bare parquet `save(path)` silently loses the bucket spec, which is
    * why this helper exists instead of a writer recipe in docs. An
    * existing registration of the same name is dropped first — the bucket
    * spec of a stale registration must never silently win over this
    * write's — but ONLY when it points at this `path` (or is a plain
    * re-registration target): an existing table rooted elsewhere is
    * someone else's data, and overwriting it because of a name collision
    * is the drop-table footgun this guard exists to catch. A caller that
    * OWNS the name and deliberately re-points it per run (a staging table
    * re-rooted at a fresh temp dir, the q149 pattern) opts out with
    * `allowReplace = true`. Table names are restricted to identifier
    * characters — the name is interpolated into SQL, and backtick quoting
    * alone must not be the only defense. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil, allowReplace: Boolean = false): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    require(numBuckets >= 1, s"numBuckets must be positive, got $numBuckets")
    require(table.nonEmpty && table.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '.'),
      s"table name must be [A-Za-z0-9_.]: '$table'")
    val missing = (bucketCols ++ sortCols).filterNot(df.columns.contains)
    require(missing.isEmpty, s"column(s) not in schema: ${missing.mkString(",")}")
    val catalog = df.sparkSession.catalog
    if (!allowReplace && catalog.tableExists(table)) {
      val loc =
        try Option(df.sparkSession.sql(s"DESCRIBE TABLE EXTENDED `$table`")
          .filter(col("col_name") === "Location")
          .select("data_type").head().getString(0))
        catch { case scala.util.control.NonFatal(_) => None }
      val samePath = loc.exists { l =>
        java.nio.file.Paths.get(new java.net.URI(l).getPath).normalize() ==
          java.nio.file.Paths.get(path).toAbsolutePath.normalize()
      }
      require(samePath,
        s"table `$table` already exists at ${loc.getOrElse("<unknown>")}, " +
          s"not at the requested path $path — refusing to clobber it; " +
          "drop it explicitly or pick another name")
    }
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Post-compaction statistics returned by [[compact]]. */
  final case class CompactStats(
      filesBefore: Int, bytesBefore: Long, filesAfter: Int, bytesAfter: Long)

  /** Small-file compaction: rewrite the parquet directory `src` into `dst`
    * as ~`ceil(totalBytes / targetBytes)` balanced files.
    *
    * Why it exists: a 100 TB table accreted by thousands of incremental
    * appends (the q142/q161 lifecycle shape, or any streaming sink)
    * degrades into millions of KB-sized files — then EVERY later scan pays
    * per-file open/footer-read overhead and the scheduler drowns in
    * million-task stages. Periodic compaction is table maintenance every
    * production lake runs (Delta OPTIMIZE, Iceberg rewrite_data_files);
    * this is its engine-level core.
    *
    * Mechanics: one driver-side file listing (metadata-only, O(files) —
    * the same cost any table format's compactor pays) sizes the input and
    * fixes the output file count; the rewrite itself is
    * `read.coalesce(n).write` — coalesce PACKS existing splits into n
    * tasks WITHOUT an exchange, so the rewrite is pure IO. The
    * alternative, `repartition(n)`, would round-robin every byte through
    * the shuffle machinery — at 100 TB that converts an IO-bound rewrite
    * into a network-bound one for no benefit: perfect output balance
    * doesn't matter when each output file only needs to be ≥ the parquet
    * row-group sweet spot, and coalesce's packing is already
    * size-homogeneous when the inputs are small relative to `targetBytes`
    * (the only regime where compaction runs). Row content is preserved
    * exactly; intra-file order is whatever the packing yields — callers
    * needing a clustered layout compose with [[zOrderBy]] INSTEAD of
    * compacting (a z-order write is already a full rewrite).
    *
    * `dst` must not be `src`: an in-place overwrite would delete the
    * inputs under the lazily-executed read. Callers swap directories
    * after the write lands (write-new / rename — the transactional swap a
    * table format would do with a metadata commit;
    * [[graft.core.Table.compact]] is the handle-level variant that owns
    * that swap — it takes an explicit FILE count and pays a repartition
    * shuffle for balance; this is the size-TARGETED, exchange-free form
    * for when the rewrite must stay IO-bound). */
  def compact(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, targetBytes: Long): CompactStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    // List through the Hadoop FileSystem API, not java.io.File — this
    // compactor exists FOR the production lake, where src is hdfs:// or
    // s3a:// and a local-FS listing would come back empty. The resolved
    // (qualified) paths also make the in-place check scheme-aware.
    val hconf = spark.sessionState.newHadoopConf()
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    // each side resolves its OWN filesystem — compacting hdfs:// into
    // s3a:// (or either into file://) is a legitimate lake move, and
    // listing dst through src's FS would throw "Wrong FS" AFTER the
    // rewrite already ran
    val srcFs = srcPath.getFileSystem(hconf)
    val dstFs = dstPath.getFileSystem(hconf)
    require(dstFs.makeQualified(dstPath) != srcFs.makeQualified(srcPath),
      "compact cannot rewrite in place: dst must differ from src " +
        "(the overwrite would delete the inputs under the lazy read)")
    def listParquet(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path):
        Seq[org.apache.hadoop.fs.FileStatus] = {
      val entries =
        if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty
      entries.flatMap { st =>
        if (st.isDirectory) listParquet(fs, st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
      }
    }
    val before = listParquet(srcFs, srcPath)
    require(before.nonEmpty, s"no parquet files under $src")
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    graft.core.Parquet.scan(spark, src).coalesce(n)
      .write.mode("overwrite").parquet(dst)
    val after = listParquet(dstFs, dstPath)
    CompactStats(before.size, totalBytes, after.size, after.map(_.getLen).sum)
  }

  /** [[compact]] plus the directory swap: rewrite `dir` into a sibling
    * temp dataset (same filesystem — renames stay metadata operations)
    * and swap it in via rename-aside, rename-in, delete-backup. A crash
    * mid-swap (between the two renames) leaves the live name missing with
    * the data intact in the hidden `.name.__old` backup — for a hive
    * partition dir that would be SILENT data loss to later scans, so
    * entry to this method (and [[recoverInterruptedSwap]], callable from
    * any listing path) self-heals that state by restoring the backup
    * before doing anything else. For directories that are NOT
    * Table-rooted: hive `cell=`/`date=` partition dirs, state dirs a
    * lifecycle owns directly. */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long): CompactStats = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    recoverInterruptedSwap(fs, target)
    val parent = target.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent,
      s".${target.getName}.__compacting")
    fs.delete(tmp, true) // stale temp from a previous crashed run
    val stats = compact(spark, dir, tmp.toString, targetBytes)
    swapInDirectory(fs, target, tmp)
    stats
  }

  /** The ONE rename-aside swap: replace live `target` with the
    * freshly-written sibling `fresh` via rename-aside (hidden
    * `.name.__old` backup), rename-in, delete-backup. Shared by
    * [[compactInPlace]] and `Table.swapInRewrite` so the crash-window
    * protocol — and [[recoverInterruptedSwap]]'s ability to recognize its
    * litter — has exactly one definition. A crash between the two renames
    * leaves `target` missing with the data intact in the backup; any
    * entry point that lists or rewrites the directory heals that state
    * first. */
  private[graft] def swapInDirectory(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      fresh: org.apache.hadoop.fs.Path): Unit = {
    val backup = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}.__old")
    fs.delete(backup, true) // stale backup from a previous crashed swap
    require(fs.rename(target, backup),
      s"swapInDirectory: rename $target -> $backup failed")
    if (!fs.rename(fresh, target)) {
      fs.rename(backup, target) // restore; best effort before failing loudly
      throw new IllegalStateException(
        s"swapInDirectory: rename $fresh -> $target failed")
    }
    fs.delete(backup, true)
  }

  /** Heal the rename-aside crash window for one directory: if the hidden
    * `.name.__old` backup exists while the live `name` is MISSING (a
    * crash landed between rename-aside and rename-in), restore the
    * backup; if both exist (a crash landed after rename-in, before the
    * backup delete), drop the now-stale backup. Returns true when a
    * restore happened. Idempotent, metadata-only. */
  def recoverInterruptedSwap(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Boolean = {
    val backup = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}.__old")
    if (!fs.exists(backup)) false
    else if (fs.exists(target)) { fs.delete(backup, true); false }
    else {
      require(fs.rename(backup, target),
        s"recoverInterruptedSwap: restore $backup -> $target failed")
      true
    }
  }

  // ------------------------------------------------------------------
  // X94 — pipeline-level dictionary encoding: parquet dictionary-encodes
  // strings INSIDE a file, but every shuffle, sort, and join still moves
  // and compares the full strings — hoisting the dictionary to the
  // pipeline level (encode once, process 8-byte codes, decode at the
  // edge) is the standard star-schema/columnar trick for repeated wide
  // values (source names, URLs, user agents) ahead of shuffle-heavy
  // work. Codes are DENSE RANKS of the sorted distinct values — fully
  // deterministic, engine-replayable, and ORDER-PRESERVING (code order
  // = value order, so range predicates and sorts work on codes
  // directly, the order-preserving-dictionary property real columnar
  // engines exploit).
  //
  // Scale shape: the dictionary build is one distinct (map-side
  // combined, value-sized) + one dictionary-sized global row_number —
  // bounded by `maxDict`, refused past it (a key-like column is not a
  // dictionary candidate; the cardinality IS the contract). Encode and
  // decode are broadcast joins: the corpus side never shuffles.

  /** Build the dictionary: `(code, value)`, codes 1..n in value order.
    * NULL never enters the dictionary — encode keeps NULL as NULL code. */
  def buildDict(df: DataFrame, column: String, maxDict: Long = 10000000L):
      DataFrame = {
    require(df.columns.contains(column), s"no column '$column'")
    require(maxDict >= 1, s"maxDict must be positive, got $maxDict")
    val vals = df.select(col(column).as("value")).filter(col("value").isNotNull)
      .distinct()
    val n = vals.count()
    require(n <= maxDict,
      s"$n distinct values exceed maxDict=$maxDict — a key-like column " +
        "is not a dictionary candidate; bounded cardinality IS the contract")
    vals.withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("value")))
      .cast("long"))
      .select(col("code"), col("value"))
  }

  /** Replace `column` with its dictionary code (`column` + "_code");
    * values absent from the dictionary are REFUSED by a bounded probe —
    * a silently-NULL code would alias with genuine NULLs downstream. */
  def dictEncode(df: DataFrame, column: String, dict: DataFrame): DataFrame = {
    require(df.columns.contains(column), s"no column '$column'")
    val joined = df.join(
      broadcast(dict.select(col("value").as(column), col("code"))),
      Seq(column), "left")
    val missing = joined
      .filter(col(column).isNotNull && col("code").isNull).limit(1).collect()
    require(missing.isEmpty,
      s"dictEncode: value '${missing.headOption.map(_.get(0)).orNull}' not " +
        "in the dictionary — rebuild it over the full corpus first")
    joined.withColumnRenamed("code", s"${column}_code").drop(column)
  }

  /** Restore `column` from its code column (inverse of [[dictEncode]]). */
  def dictDecode(df: DataFrame, column: String, dict: DataFrame): DataFrame =
    df.join(broadcast(dict.select(col("code").as(s"${column}_code"),
        col("value").as(column))),
      Seq(s"${column}_code"), "left")
      .drop(s"${column}_code")
}
