package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Parquet

/** File-level zone maps: a sidecar min/max manifest + manifest-driven file
  * pruning at read time — the data-skipping core every table format ships
  * (Delta stats / Iceberg manifests / ORC file stats), built engine-level.
  *
  * Why a SIDECAR when parquet already keeps row-group min/max: parquet
  * stats prune row groups only AFTER the scan has opened every file and
  * read every footer. At 100 TB / 128 MB files that is ~800k footer reads
  * per query BEFORE the first skip decision — the open/footer round-trips
  * (S3 GETs in production) dominate selective scans. A manifest holds all
  * per-file ranges in ONE tiny parquet, so the file set shrinks before any
  * data file is touched; parquet's own row-group stats then prune WITHIN
  * the survivors. The two layers compose, they don't compete — and both
  * only bite when the layout gives columns locality, which is what
  * [[Layout.zOrderBy]] / a range sort are for.
  *
  * Staleness contract: a manifest is valid ONLY while the data directory
  * holds exactly the files it lists. [[prunedRead]] re-lists the directory
  * (pure metadata — no footer is opened) and REFUSES on any drift: a file
  * the manifest doesn't know would be silently dropped from results, a
  * ghost entry means the layout was rewritten under the manifest. That
  * makes invalidation automatic — a compaction / overwrite / new append
  * turns every subsequent prune into a refusal until [[buildIncremental]]
  * (appends: stats for NEW files only) or [[build]] (rewrites: full
  * rebuild) refreshes the manifest. No write-path coupling needed: the
  * read edge is where a stale skip decision would lie, so the read edge
  * is where validity is enforced.
  *
  * Scale audit: `build` is one column-pruned distributed scan grouped by
  * `input_file_name()` — a map-side-combinable aggregation whose output is
  * O(files), not O(rows); `buildIncremental` runs the same aggregation
  * over ONLY the unmapped files, so steady-state manifest maintenance
  * costs O(new data), the Delta/Iceberg commit-time asymptote. `prunedRead`
  * reads the manifest and filters it DRIVER-side: O(files) rows, the same
  * asymptotics (and the same driver memory) as Spark's own
  * `InMemoryFileIndex`, which already materializes the full file listing
  * on the driver for ANY parquet read — the manifest collect adds no new
  * scaling class, it just makes the listing carry ranges. Nothing here
  * scans data twice: kept files are handed to one ordinary parquet read
  * with the residual predicate pushed down, and an empty survivor set
  * answers from the manifest's recorded schema with ZERO data-file access
  * (not even a footer).
  */
object ZoneMaps {

  /** One range predicate against a zone-mapped column: keep files whose
    * [min, max] interval intersects [lo, hi]. Bounds are inclusive and
    * literal (driver-known — the same contract as partition pruning). */
  final case class Range(column: String, lo: Any, hi: Any)

  /** What [[prunedRead]] decided: how many files the manifest listed and
    * how many survived the range intersection. */
  final case class PruneStats(filesTotal: Int, filesKept: Int)

  private def mnCol(c: String) = s"__zm_min_$c"
  private def mxCol(c: String) = s"__zm_max_$c"

  /** Sidecar carrying the recorded-at-build dataset schema, committed
    * atomically with each manifest version (see [[handle]]). */
  private val SchemaSidecar = "_graft_schema.json"

  /** The versioned manifest handle (X59 [[graft.core.Table]]): each
    * refresh commits a FRESH immutable version by rename-aside, with the
    * schema sidecar inside the same atomic step — a crash mid-refresh
    * leaves the previous manifest (and its schema) fully serving instead
    * of an empty directory, and a refresh's read-old/write-new plan never
    * cycles through the directory it replaces. */
  private def handle(spark: SparkSession, manifestDir: String) =
    graft.core.Table(spark, manifestDir, "zone_manifest")

  /** Manifests written BEFORE the versioned-handle rework were flat
    * parquet directly under `manifestDir`; the versioned reader would
    * surface such a directory as the opaque "no committed versions".
    * Detect the legacy shape (data files present, no `<name>.__v`
    * versions root) on every READ path and refuse with the migration
    * story instead — a full rebuild is one metadata-scale scan, so
    * auto-migration is not worth a second commit protocol. */
  private[ops] def refuseLegacyManifestLayout(spark: SparkSession,
      manifestDir: String, name: String): Unit = {
    val filesystem = fs(spark, manifestDir)
    val root = new org.apache.hadoop.fs.Path(manifestDir)
    val versioned = new org.apache.hadoop.fs.Path(s"$manifestDir/$name.__v")
    if (filesystem.exists(root) && !filesystem.exists(versioned) &&
        filesystem.listStatus(root).exists(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")))
      sys.error(s"legacy flat manifest layout under $manifestDir (data " +
        s"files but no $name.__v versions root) — written by a " +
        "pre-versioned release and unreadable by the versioned handle; " +
        "rebuild the manifest with build() (one metadata-scale scan)")
  }

  private[ops] def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files under `dataDir`, by pure directory walk — no footer, no
    * schema inference. Hidden entries (`_`, `.` prefixes) are skipped at
    * every level, mirroring Spark's own listing rules. Returned as
    * scheme-stripped absolute paths, the normalization both
    * `input_file_name()` URIs and Hadoop listing results reduce to. */
  private[ops] def listDataFiles(spark: SparkSession, dataDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dataDir)
    val filesystem = fs(spark, dataDir)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      filesystem.listStatus(p).toSeq
        .filterNot { st =>
          val n = st.getPath.getName
          // a partition directory may legitimately start with '_'
          // (__zm_shard=0) — Spark's listing keeps '='-bearing names too
          (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")
        }
        .flatMap(st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString))
    walk(root)
  }

  /** file:///a/b, file:/a/b and /a/b all name the same file — COMPARISONS
    * run on the URI path alone; stored/returned names keep their full
    * form (both spellings are readable). */
  private[ops] def normalizePath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  private def statsFor(spark: SparkSession, dataDir: String,
      files: Seq[String], cols: Seq[String]): DataFrame = {
    val data = Parquet.scan(spark, Map("basePath" -> dataDir), files: _*)
    val missing = cols.filterNot(data.columns.contains)
    require(missing.isEmpty, s"column(s) not in schema: ${missing.mkString(",")}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(mnCol(c)), max(col(c)).as(mxCol(c)))) :+
      count(lit(1)).as("__zm_rows")
    data.select(input_file_name().as("__zm_file") +: cols.map(col): _*)
      .groupBy("__zm_file")
      .agg(aggs.head, aggs.tail: _*)
  }

  private def writeManifest(spark: SparkSession, manifestDir: String,
      stats: DataFrame, dataSchema: StructType): Unit = {
    val t = handle(spark, manifestDir)
    t.writeVersion(stats.coalesce(1), Map(SchemaSidecar -> dataSchema.json))
    t.vacuum(1)
  }

  /** Build (or rebuild) the manifest for the parquet dataset at `dataDir`:
    * one row per data file with per-column min/max over `cols` plus a row
    * count, written (overwrite) to `manifestDir`, together with the
    * dataset schema (the `_graft_schema.json` sidecar — what lets an
    * all-pruned read answer without touching a single data file). Columns
    * may be any orderable type — numeric, timestamp, string. NULLs don't
    * contribute to min/max (an all-NULL file carries NULL stats and is
    * prunable for any range predicate, since NULL never satisfies one).
    *
    * The stats come from a scan of exactly the stat columns — column
    * pruning keeps the build proportional to the zone-mapped columns, not
    * the table width. This full-build face is the bootstrap / post-rewrite
    * path; [[buildIncremental]] is the append-time refresh. */
  def build(spark: SparkSession, dataDir: String, manifestDir: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone maps need at least one column")
    val files = listDataFiles(spark, dataDir)
    require(files.nonEmpty, s"no data files under $dataDir")
    val schema = Parquet.scan(spark, dataDir).schema
    writeManifest(spark, manifestDir, statsFor(spark, dataDir, files, cols),
      schema)
  }

  /** Refresh the manifest after the data directory changed, scanning ONLY
    * files the manifest doesn't cover yet: existing rows for still-present
    * files are carried over verbatim (no data access), rows for vanished
    * files are dropped, and the per-file aggregation runs over the new
    * files alone — O(new data), the append-path asymptote the class doc
    * promises. Works for pure appends (the common case: stats for the new
    * files append to the carried rows) and for compactions/rewrites (old
    * rows drop, rewritten files scan as new). Returns (carried, added,
    * dropped) file counts. `cols` must be covered by the manifest (the
    * usual [[manifestSchemaCols]] contract); the refresh then scans fresh
    * files for EVERY column the manifest records, not just `cols` — an
    * incremental refresh never narrows the manifest, even when asked with
    * a subset.
    *
    * The carried rows ride through the DRIVER (O(files) rows of min/max
    * scalars — the same class as the prune collect; contrast
    * [[BloomSkip.buildIncremental]], whose per-file payload is word-sized
    * and therefore carries distributedly), and the refresh commits a NEW
    * manifest version (see [[handle]]) — crash-safe, no read-overwrite
    * cycle. */
  def buildIncremental(spark: SparkSession, dataDir: String,
      manifestDir: String, cols: Seq[String]): (Int, Int, Int) = {
    require(cols.nonEmpty, "zone maps need at least one column")
    refuseLegacyManifestLayout(spark, manifestDir, "zone_manifest")
    val old = handle(spark, manifestDir).readLatest
    val expected = manifestSchemaCols(old, cols)
    // fresh files must carry stats for EVERY column the manifest records
    // ('never narrows'): widen the scan list to the manifest's recorded
    // columns, so a caller passing a subset still refreshes the full map
    // instead of hitting an unresolved-column error on the union below
    val statCols = expected.collect {
      case c if c.startsWith("__zm_min_") => c.stripPrefix("__zm_min_")
    }
    val oldRows = old.select(expected.map(col): _*).collect()
    val oldFiles = oldRows.map(r => normalizePath(r.getString(0))).toSet
    val current = listDataFiles(spark, dataDir)
    require(current.nonEmpty, s"no data files under $dataDir")
    val currentSet = current.map(normalizePath).toSet
    val carried =
      oldRows.filter(r => currentSet.contains(normalizePath(r.getString(0))))
    val fresh =
      current.filterNot(f => oldFiles.contains(normalizePath(f)))
    val dropped = oldFiles.size - carried.length
    val schema = Parquet.scan(spark, dataDir).schema
    val merged =
      if (fresh.isEmpty)
        spark.createDataFrame(
          java.util.Arrays.asList(carried: _*),
          StructType(expected.map(old.schema(_))))
      else {
        val freshStats = statsFor(spark, dataDir, fresh, statCols)
          .select(expected.map(col): _*)
        val carriedDf = spark.createDataFrame(
          java.util.Arrays.asList(carried: _*), freshStats.schema)
        freshStats.union(carriedDf)
      }
    writeManifest(spark, manifestDir, merged, schema)
    (carried.length, fresh.length, dropped)
  }

  /** The manifest columns a `cols`-ranged operation needs, validated:
    * refuse a manifest that doesn't carry stats for every requested
    * column (built with a different column list — pruning on an unmapped
    * column would keep nothing and silently return wrong rows). */
  private def manifestSchemaCols(manifest: DataFrame,
      cols: Seq[String]): Seq[String] = {
    val need = Seq("__zm_file") ++
      cols.flatMap(c => Seq(mnCol(c), mxCol(c))) ++ Seq("__zm_rows")
    val missing = need.filterNot(manifest.columns.contains)
    require(missing.isEmpty,
      s"manifest lacks stats column(s) ${missing.mkString(",")} — " +
        "built with a different zone-map column list; rebuild")
    // carry EVERY stat column the manifest holds, not just the requested
    // ones, so an incremental refresh never narrows the manifest
    manifest.columns.toSeq
  }

  /** Read `dataDir` with manifest-driven file skipping: drop every file
    * whose zone-map interval cannot intersect ALL of `ranges`, then apply
    * the same ranges as a residual row filter (zone maps are a file-level
    * superset — kept files still carry out-of-range rows). Returns the
    * filtered frame plus the prune decision.
    *
    * Refuses a STALE manifest (see the class doc): the data directory is
    * re-listed — metadata only — and any file-set drift in either
    * direction raises rather than silently mis-answering.
    *
    * A file with NULL stats for a ranged column (all-NULL values, or the
    * column added after that file was written) is skipped: a range
    * predicate is NULL-rejecting, so no row in it can match. The survivor
    * list is collected on the driver (O(files) — see the class doc) and
    * handed to `spark.read` with `basePath` so directory-partition columns
    * survive the explicit file listing. An empty survivor set returns an
    * empty frame with the schema RECORDED AT BUILD TIME — zero data-file
    * access, not even a footer: the best case data skipping has. */
  def prunedRead(spark: SparkSession, dataDir: String, manifestDir: String,
      ranges: Seq[Range]): (DataFrame, PruneStats) = {
    require(ranges.nonEmpty, "prunedRead needs at least one range")
    refuseLegacyManifestLayout(spark, manifestDir, "zone_manifest")
    val manifest = handle(spark, manifestDir).readLatest
    manifestSchemaCols(manifest, ranges.map(_.column))
    // NULL stats (all-NULL file) make the comparison NULL → coalesce to
    // false: a range predicate is NULL-rejecting, so skipping is safe
    val keep = coalesce(ranges.map { r =>
      col(mxCol(r.column)) >= lit(r.lo) && col(mnCol(r.column)) <= lit(r.hi)
    }.reduce(_ && _), lit(false))
    val files = manifest.select(col("__zm_file"), keep.as("__zm_keep"))
      .collect()
    val listed = files.map(r => normalizePath(r.getString(0))).toSet
    val actual = listDataFiles(spark, dataDir).map(normalizePath).toSet
    if (listed != actual) {
      val unmapped = (actual -- listed).size
      val ghosts = (listed -- actual).size
      throw new IllegalStateException(
        s"zone-map manifest at $manifestDir is STALE for $dataDir: " +
          s"$unmapped data file(s) it never mapped (their rows would be " +
          s"silently dropped), $ghosts entr(ies) whose files are gone — " +
          "run buildIncremental (appends) or build (rewrites) first")
    }
    val kept = files.filter(_.getBoolean(1)).map(_.getString(0)).sorted
    val residual = ranges.map(r =>
      col(r.column) >= lit(r.lo) && col(r.column) <= lit(r.hi))
      .reduce(_ && _)
    val df =
      if (kept.isEmpty) {
        val json = handle(spark, manifestDir).sidecarLatest(SchemaSidecar)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          DataType.fromJson(json).asInstanceOf[StructType])
      } else {
        Parquet.scan(spark, Map("basePath" -> dataDir), kept.toIndexedSeq: _*)
      }
    (df.filter(residual), PruneStats(files.length, kept.length))
  }

  /** Deterministic range-clustered write: sort by `sortCols`, cut into
    * files of exactly `rowsPerFile` rows (last file short), one data file
    * per shard, shard id recorded as a directory partition. This is the
    * layout under which zone maps on the leading sort column prune
    * perfectly — file i covers one contiguous value run — and, because
    * shard membership is a pure function of the sorted row number, the
    * whole file population (count, per-file ranges, which files a
    * predicate keeps) is REPLAYABLE by any engine from the rows alone,
    * which is what lets an external oracle audit the prune decision
    * itself, not just the returned rows.
    *
    * `shardBase` offsets the shard ids and `append = true` adds the new
    * shards to an existing layout instead of replacing it — the fixture
    * face of an append-only ingest (batch 2 lands as NEW files, which is
    * exactly what [[buildIncremental]] exists to absorb). Appends must use
    * disjoint shard ids: colliding ids would put two data files in one
    * shard directory, still correct to read but no longer one-file-per-
    * contiguous-run.
    *
    * The row numbering is one global window — a single-reducer pass, fine
    * for fixtures and for the per-partition tail of a production write; a
    * 100 TB layout gets the same contiguous runs from
    * `repartitionByRange + sortWithinPartitions` (no global window) at the
    * cost of sampled, non-replayable cut points. Both layouts read back
    * identically; only the auditability differs. */
  def writeRangeSharded(df: DataFrame, dataDir: String, sortCols: Seq[String],
      rowsPerFile: Long, shardBase: Long = 0L,
      append: Boolean = false): Unit = {
    require(sortCols.nonEmpty, "writeRangeSharded needs at least one sort column")
    require(rowsPerFile >= 1, s"rowsPerFile must be positive, got $rowsPerFile")
    require(shardBase >= 0, s"shardBase must be non-negative, got $shardBase")
    require(!df.columns.contains("__zm_shard"),
      "column name __zm_shard is reserved by writeRangeSharded")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(sortCols.map(col): _*)
    val sharded = df.withColumn("__zm_shard",
      (((row_number().over(w) - 1) / rowsPerFile).cast("long") + shardBase))
    sharded
      .repartition(col("__zm_shard"))
      .write.mode(if (append) "append" else "overwrite")
      .partitionBy("__zm_shard").parquet(dataDir)
  }
}
