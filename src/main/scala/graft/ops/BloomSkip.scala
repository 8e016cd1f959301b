package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Parquet

/** X119 — per-file Bloom skipping: the EQUALITY complement to
  * [[ZoneMaps]]' range manifests. Zone maps prune on [min, max]
  * intervals, which only bite when the layout gives the column locality
  * (a range sort, Z-order); a point lookup on a scattered high-selectivity
  * key (tenant id, user id, doc id) intersects almost every file's range
  * and prunes nothing. A per-file Bloom filter answers "might file F
  * contain key v" regardless of layout — the ORC bloom-filter-per-stripe
  * / Delta bloom index idea, built engine-level on X89's bit function
  * (md5 positions — the whole index replays in any engine with md5, the
  * q238 contract).
  *
  * Manifest layout: a VERSIONED sidecar table (the X59
  * [[graft.core.Table]] rename-aside handle rooted under `manifestDir`).
  * Each version holds:
  *  - parquet rows `(__bs_file, widx, word)` — PACKED bit words: `word`
  *    is a 64-bit long whose bit j is set iff position `widx·64 + j` is
  *    set for that file. One row per NON-ZERO word, not per set bit —
  *    ~64× smaller than the row-per-bit form at saturation, same
  *    replayability (position p ↔ bit p%64 of word p DIV 64);
  *  - `_graft_schema.json` — the dataset schema recorded at build (what
  *    lets an all-pruned read answer with zero data-file access);
  *  - `_graft_bloom.json` — the filter identity `(keyCol, bits, hashes,
  *    seed)`: probes read it back instead of trusting the caller, so a
  *    mismatched-identity probe is structurally impossible (the CMS/X89
  *    shared-identity contract, enforced rather than documented).
  * Sidecars commit ATOMICALLY with the bit words (inside the version's
  * staging dir, visible via the one commit rename), so a refresh
  * interrupted at ANY point leaves the previous version — words, schema,
  * identity — fully serving; the next successful commit supersedes it
  * and vacuums. No read-overwrite cycle exists: a refresh's plan reads
  * version N while writing version N+1's staging dir.
  *
  * Staleness contract = [[ZoneMaps]]' verbatim: [[prunedRead]] re-lists
  * the data directory (pure metadata) and REFUSES on any file-set drift;
  * [[buildIncremental]] is the append-path refresh — carried rows stay
  * DISTRIBUTED (a broadcast semi-join of the manifest frame against the
  * still-present file list; the driver only ever holds the O(files)
  * distinct file list, never a bit word), vanished files drop, and only
  * NEW files are scanned: O(new data) steady state.
  *
  * Scale audit: `build` is one column-pruned scan → hashes-way explode →
  * ONE map-side-combined `bit_or` aggregation on (file, widx) — output
  * O(files × min(bits/64, keys·hashes)), corpus-row-independent.
  * `prunedRead` decides survivors with a JOIN (probe-words table is
  * ≤ |values|·hashes rows, broadcast against the manifest; a file
  * survives when EVERY position of SOME probe value is set) and collects
  * only the O(files) survivor list — never a bit word — into a SET the
  * final file filter probes in O(1), before one ordinary parquet read of
  * the kept files with the equality predicate as the residual row
  * filter. False negatives are structurally impossible (require-audited
  * in the q281 lifecycle); false positives cost one extra file read at
  * the design rate. */
object BloomSkip {

  /** What [[prunedRead]] decided. */
  final case class PruneStats(filesTotal: Int, filesKept: Int)

  private final case class Identity(keyCol: String, bits: Int, hashes: Int,
      seed: String)

  private val IdentitySidecar = "_graft_bloom.json"
  private val SchemaSidecar = "_graft_schema.json"

  /** The versioned manifest handle: versions live under
    * `manifestDir/bloom_manifest.__v/`, committed by rename (X59). */
  private def handle(spark: SparkSession, manifestDir: String) =
    graft.core.Table(spark, manifestDir, "bloom_manifest")

  private def identityJson(id: Identity): String =
    s"""{"keyCol":"${id.keyCol}","bits":${id.bits},""" +
      s""""hashes":${id.hashes},"seed":"${id.seed}"}"""

  private def readIdentity(spark: SparkSession,
      manifestDir: String): Identity = {
    // every read path (prunedRead, buildIncremental) enters through the
    // identity sidecar — the one place to catch a pre-versioned flat
    // manifest with an actionable error instead of "no committed versions"
    ZoneMaps.refuseLegacyManifestLayout(spark, manifestDir, "bloom_manifest")
    val json = handle(spark, manifestDir).sidecarLatest(IdentitySidecar)
    def str(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"malformed bloom identity: $json")).group(1)
    def num(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"malformed bloom identity: $json")).group(1).toInt
    Identity(str("keyCol"), num("bits"), num("hashes"), str("seed"))
  }

  private def readSchema(spark: SparkSession, manifestDir: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      handle(spark, manifestDir).sidecarLatest(SchemaSidecar))
      .asInstanceOf[StructType]

  /** One `(file, widx = -1, word = 0)` row per listed file: the
    * membership sentinel that keeps a file with ZERO non-null keys in
    * the manifest's file set (it would otherwise read as "not covered"
    * and wedge every subsequent prune into the staleness refusal). Word
    * index −1 can never match a probe (real indexes are ≥ 0), so
    * sentinel-only files prune OUT — correct: no non-null key can
    * satisfy an equality probe, and `isin` never matches NULL. */
  private def sentinels(spark: SparkSession, files: Seq[String]): DataFrame = {
    import spark.implicits._
    files.toDF("__bs_file")
      .select(col("__bs_file"), lit(-1L).as("widx"), lit(0L).as("word"))
  }

  /** Packed bit words for `files`: one row per (file, non-zero 64-bit
    * word). ONE shuffle — the `bit_or` aggregation absorbs duplicate
    * positions with a map-side partial, so no pre-`distinct` pass. */
  private def wordsFor(spark: SparkSession, dataDir: String,
      files: Seq[String], id: Identity): DataFrame = {
    val data = Parquet.scan(spark, Map("basePath" -> dataDir), files: _*)
    require(data.columns.contains(id.keyCol),
      s"column '${id.keyCol}' not in schema")
    data.select(input_file_name().as("__bs_file"), col(id.keyCol).as("__k"))
      .filter(col("__k").isNotNull)
      .select(col("__bs_file"), explode(array((0 until id.hashes).map(i =>
        Sketches.bloomPos(col("__k"), i, id.bits, id.seed)): _*)).as("pos"))
      .groupBy(col("__bs_file"), expr("pos DIV 64").as("widx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
        .as("word"))
  }

  /** Session-conf override for the commit's rows-per-shard target (spec
    * hook + ops tuning); default sizes shards at ~8M packed-word rows ≈
    * 64–128 MB of parquet per file (the X45 target-bytes discipline). */
  private[ops] val RowsPerShardConf = "graft.bloom.manifestRowsPerShard"
  private val DefaultRowsPerShard = 8L << 20

  /** Commit one manifest version (words + sidecars, atomically) and
    * vacuum superseded versions. The writer is SIZE-AWARE, unlike
    * [[ZoneMaps]]' `coalesce(1)` (truly O(files) rows): the packed-word
    * manifest is O(files × min(bits/64, keys·hashes)) ROWS — at the
    * design point (~800k files × 2048 words at bits=2^17) ~1.6e9 rows,
    * tens of GB, and one write task would be a single-threaded
    * straggler. The aggregated frame persists (memory-and-disk — the
    * corpus scan never re-runs), its exact row count picks
    * `ceil(rows / rowsPerShard)` shards, and the commit writes that many
    * parquet files inside the one atomic version rename. Small manifests
    * stay single-file; the threshold is the [[RowsPerShardConf]] conf. */
  private def commit(spark: SparkSession, manifestDir: String,
      words: DataFrame, schema: StructType, id: Identity): Unit = {
    val t = handle(spark, manifestDir)
    val rowsPerShard = spark.conf.getOption(RowsPerShardConf)
      .map(_.toLong).getOrElse(DefaultRowsPerShard)
    require(rowsPerShard >= 1,
      s"$RowsPerShardConf must be >= 1, got $rowsPerShard")
    val cached = words.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = cached.count()
      val shards =
        math.max(1L, (rows + rowsPerShard - 1) / rowsPerShard).toInt
      // coalesce can only REDUCE partition count: if the aggregated frame
      // arrives with fewer partitions than the computed shard count (an
      // upstream coalesce or a small shuffle-partition conf), it would
      // silently under-shard and re-create the single-task straggler this
      // writer exists to prevent. The frame is persisted, so the
      // repartition reads cache, never the corpus scan.
      val sharded =
        if (shards > cached.rdd.getNumPartitions) cached.repartition(shards)
        else cached.coalesce(shards)
      t.writeVersion(sharded,
        Map(SchemaSidecar -> schema.json, IdentitySidecar -> identityJson(id)))
    } finally cached.unpersist()
    t.vacuum(1)
  }

  /** Build (or rebuild) the per-file Bloom manifest over `keyCol`. */
  def build(spark: SparkSession, dataDir: String, manifestDir: String,
      keyCol: String, bits: Int = 1 << 17, hashes: Int = 5,
      seed: String = "bskip"): Unit = {
    require(bits >= 2 && bits <= (1 << 30),
      s"bits must be in [2, 2^30] (the packed-word manifest budget: " +
        s"≤ 2^24 words/file), got $bits")
    require(hashes >= 1 && hashes <= 16,
      s"hashes must be in [1,16], got $hashes")
    val files = ZoneMaps.listDataFiles(spark, dataDir)
    require(files.nonEmpty, s"no data files under $dataDir")
    val id = Identity(keyCol, bits, hashes, seed)
    commit(spark, manifestDir,
      wordsFor(spark, dataDir, files, id).unionByName(sentinels(spark, files)),
      Parquet.scan(spark, dataDir).schema, id)
  }

  /** Refresh after the data directory changed, scanning ONLY uncovered
    * files (the [[ZoneMaps.buildIncremental]] shape): words for
    * still-present files carry over DISTRIBUTEDLY (a broadcast semi-join
    * against the surviving file list — the driver holds only the
    * O(files) distinct file names, never a bit word), vanished files
    * drop, new files scan. The merged frame reads version N of the
    * manifest while writing version N+1's staging directory, so there is
    * no read-overwrite cycle and an interruption at any point leaves
    * version N fully serving. Returns (carriedFiles, addedFiles,
    * droppedFiles). */
  def buildIncremental(spark: SparkSession, dataDir: String,
      manifestDir: String): (Int, Int, Int) = {
    val id = readIdentity(spark, manifestDir)
    val t = handle(spark, manifestDir)
    val old = t.readLatest.select(col("__bs_file"), col("widx"), col("word"))
    // the ONE collect: the distinct file list — O(files), the same class
    // as the directory listing below, never the bit words
    val oldSpellings = old.select("__bs_file").distinct()
      .collect().map(_.getString(0))
    val oldNorm = oldSpellings.map(ZoneMaps.normalizePath).toSet
    val current = ZoneMaps.listDataFiles(spark, dataDir)
    require(current.nonEmpty, s"no data files under $dataDir")
    val currentSet = current.map(ZoneMaps.normalizePath).toSet
    // carried spellings are decided driver-side on the O(files) list;
    // the manifest's WORD rows ride through a broadcast semi-join on the
    // manifest's own exact spellings (no executor-side normalization)
    val carriedSpellings = oldSpellings
      .filter(sp => currentSet.contains(ZoneMaps.normalizePath(sp)))
    val carriedNorm = carriedSpellings.map(ZoneMaps.normalizePath).toSet
    import spark.implicits._
    val carriedDf = old.join(
      broadcast(carriedSpellings.toSeq.toDF("__bs_file")),
      Seq("__bs_file"), "left_semi")
    val fresh = current.filterNot(f =>
      oldNorm.contains(ZoneMaps.normalizePath(f)))
    val schema = Parquet.scan(spark, dataDir).schema
    val merged =
      if (fresh.isEmpty) carriedDf
      else wordsFor(spark, dataDir, fresh, id)
        .unionByName(sentinels(spark, fresh))
        .unionByName(carriedDf)
    commit(spark, manifestDir, merged, schema, id)
    (carriedNorm.size, fresh.length, oldNorm.size - carriedNorm.size)
  }

  /** Read `dataDir` keeping only files whose Bloom might contain ANY of
    * `values` (IN-list point lookup), with `keyCol IN values` as the
    * residual row filter. Stale manifests refuse (file-set drift in
    * either direction); an empty survivor set answers from the recorded
    * schema with zero data-file access. */
  def prunedRead(spark: SparkSession, dataDir: String, manifestDir: String,
      values: Seq[Any]): (DataFrame, PruneStats) = {
    require(values.nonEmpty, "prunedRead needs at least one probe value")
    val id = readIdentity(spark, manifestDir)
    val manifest = handle(spark, manifestDir).readLatest
    val manifestFiles = manifest.select("__bs_file").distinct()
      .collect().map(r => ZoneMaps.normalizePath(r.getString(0))).toSet
    val current = ZoneMaps.listDataFiles(spark, dataDir)
    val currentNorm = current.map(ZoneMaps.normalizePath).toSet
    // drift check is on the FULL listing, not the manifest's subset: an
    // all-NULL-key file has no bit rows but must still be drift-audited
    // — it is also never prunable-in, so it must be KEPT unconditionally
    // (its rows can't match an equality probe, but only the residual
    // filter may decide that; dropping an unknown file would be the
    // silent-wrong-answer class the staleness contract exists to stop)
    require(manifestFiles.subsetOf(currentNorm),
      "stale bloom manifest: it lists files no longer present — the " +
        "layout changed under it; rebuild or buildIncremental first")
    // a not-covered file COULD legitimately be all-NULL-keyed (zero bit
    // rows), but verifying that would read data — refuse instead: the
    // incremental refresh is cheap and unambiguous
    val unmapped = currentNorm -- manifestFiles
    require(unmapped.isEmpty,
      s"stale bloom manifest: ${unmapped.size} file(s) not covered — " +
        "run buildIncremental")
    import spark.implicits._
    // probe identity is the STRINGIFIED value (bloomPos hashes the
    // string form), so dedupe on String.valueOf up front: a duplicate
    // probe value would otherwise contribute 2·hashes rows per (file,
    // __pk) and the `=== hashes` survivor test would wrongly PRUNE a
    // file with every bit set — a silent false negative. Within one
    // distinct value, duplicate positions from colliding hash functions
    // stay distinct rows, so the hit count below compares against
    // `hashes` exactly as the oracle replays it
    val probes = values.map(String.valueOf).distinct.toDF("__pk")
      .select(col("__pk"), explode(array((0 until id.hashes).map(i =>
        Sketches.bloomPos(col("__pk"), i, id.bits, id.seed)): _*)).as("pos"))
      .select(col("__pk"), col("pos"), expr("pos DIV 64").as("widx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
    // a file survives when EVERY position of SOME probe value is set
    val kept = manifest.join(broadcast(probes), Seq("widx"))
      .filter(col("word").bitwiseAND(col("mask")) =!= 0L)
      .groupBy(col("__bs_file"), col("__pk"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === id.hashes)
      .select("__bs_file").distinct()
      .collect().map(r => ZoneMaps.normalizePath(r.getString(0))).toSet
    val stats = PruneStats(current.size, kept.size)
    val keptFull = current.filter(f =>
      kept.contains(ZoneMaps.normalizePath(f)))
    val frame =
      if (keptFull.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          readSchema(spark, manifestDir))
      else Parquet.scan(spark, Map("basePath" -> dataDir), keptFull: _*)
    // residual = OR-of-equalities against literals CAST to the key
    // column's type (values coerce via CAST — pass same-typed values):
    // the predicate stays on the BARE column, so it pushes into the
    // parquet scan and prunes row groups WITHIN the kept files — the
    // second skipping layer the file-level manifest composes with
    // (a cast-to-string compare here would read every kept row group)
    val keyType = frame.schema(id.keyCol).dataType
    val residual = values
      .map(v => col(id.keyCol) === lit(v).cast(keyType))
      .reduce(_ || _)
    (frame.filter(residual), stats)
  }
}
