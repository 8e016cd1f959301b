package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Parquet

/** The IVF+PQ vector index as a maintained artifact, not a per-query
  * computation — the lifecycle face of X3/X34 (q155 is one retrieval over
  * this layout; this object owns building it, APPENDING to it, and the
  * retrieval plan over it).
  *
  * Layout: a parquet dataset `(id, pq_code, cell)` PARTITIONED BY `cell`
  * (hive-style `cell=N/` directories). The float embeddings never enter
  * the index — 8-byte PQ codes stand in for them, so a probe reads
  * `nProbe/nCells` of a corpus already compressed ~32×. Codebooks and IVF
  * centroids are LITERALS by contract (trained offline via
  * [[Quantize.pqTrain]] / [[Similarity.kMeansRefine]], then pasted): both
  * encode and search are then pure map expressions, and two encodes of
  * the same vector agree bit-for-bit forever — the property that makes an
  * APPENDED index equivalent to a rebuilt one.
  *
  * Incremental maintenance (the 100 TB deployment shape): vectors arrive
  * continuously; re-encoding the corpus per batch would be O(corpus) per
  * day. [[append]] is O(batch): encode the new vectors with the EXISTING
  * literal codebooks — map-only, no shuffle, no read of the existing
  * index — and land them as NEW part files inside the same `cell=`
  * directories (parquet append into a hive layout touches no existing
  * file; IvfPqIndexSpec pins exactly that). Search over old ∪ new is then
  * the unchanged [[search]] plan: partition pruning doesn't care which
  * batch a file arrived in.
  *
  * Staleness contract: appended vectors are encoded against the ORIGINAL
  * codebooks, so drift in the incoming distribution degrades recall
  * gradually (codes stay valid — ADC error grows). The documented
  * re-train trigger is the q191 cell-balance diagnostic
  * ([[Similarity.ivfCellAssign]] occupancy per cell, max/mean ratio):
  * when a cell's share crosses the alert threshold, re-train codebooks
  * offline and [[build]] a fresh index — the same trigger every
  * production vector store (FAISS re-train, Milvus segment compaction)
  * operates on. Small-file accretion from many appends is the X45
  * problem; compact cell directories with [[graft.ops.Layout.compact]]
  * per cell when file counts grow.
  */
object IvfPqIndex {

  /** Encode one batch into index rows `(id, pq_code, cell)` — map-only
    * ([[Quantize.pqEncode]] + [[Similarity.ivfCellAssign]] are both pure
    * expressions over the vector column; the plan is scan → project, no
    * Exchange). Shared by [[build]] and [[append]] so the two can never
    * disagree on the encoding. */
  def encode(batch: DataFrame, id: String, vec: String,
      codebooks: Seq[Seq[Seq[Double]]],
      centroids: Seq[Seq[Double]]): DataFrame =
    Quantize.pqEncode(batch.select(col(id), col(vec)), col(vec), codebooks)
      .withColumn("cell", Similarity.ivfCellAssign(col(vec), centroids))
      .select(col(id), col("pq_code"), col("cell"))

  /** Full build: encode and write cell-partitioned. Overwrites — a build
    * is the re-train path, where every existing code is stale by
    * definition. */
  def build(batch: DataFrame, id: String, vec: String,
      codebooks: Seq[Seq[Seq[Double]]], centroids: Seq[Seq[Double]],
      path: String): Unit =
    encode(batch, id, vec, codebooks, centroids)
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)

  /** Incremental append: encode the NEW batch with the index's existing
    * literal codebooks and append into the cell-partitioned layout.
    * O(batch) — the existing index is neither read nor rewritten (new
    * part files land inside `cell=` directories; every pre-existing file
    * survives byte-identical, the IvfPqIndexSpec pin). Callers own
    * de-duplication of ids across batches (an id appended twice is two
    * index rows, both retrievable — same contract as any log-structured
    * index segment). */
  def append(batch: DataFrame, id: String, vec: String,
      codebooks: Seq[Seq[Seq[Double]]], centroids: Seq[Seq[Double]],
      path: String): Unit =
    encode(batch, id, vec, codebooks, centroids)
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(path)

  /** Cell-directory maintenance — the X45 small-file story applied to the
    * index: every [[append]] lands one-or-more new part files per touched
    * `cell=` directory, so a continuously-appended index accretes exactly
    * the per-cell fragmentation that makes probes pay per-file open
    * overhead. One metadata-only listing finds the cells whose file count
    * crossed `maxFilesPerCell`; each is rewritten by an exchange-free
    * coalesce into ~targetBytes files and swapped in via rename-aside —
    * the old files stay live for the whole (expensive) rewrite, and a
    * crash leaves the old or the new complete dataset. Like
    * [[graft.core.Table.compact]], the swap is not MVCC: run maintenance
    * when no in-flight plan holds the old file listing (the q161
    * lifecycle cadence — between batches, at the read edge). Quiescent
    * cells are untouched byte-for-byte. Returns the compacted cell ids.
    * Codes are re-packed, never re-derived — [[build]] with re-trained
    * codebooks is the semantic refresh; this is pure IO hygiene. */
  def maintain(spark: SparkSession, path: String, maxFilesPerCell: Int,
      targetBytes: Long): Seq[Int] = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // a missing root is "nothing to maintain", not a raw Hadoop FNF —
    // maintenance scheduled ahead of the first build must no-op, the same
    // stance as Table.listDataFiles on an absent table
    if (!fs.exists(root)) return Seq.empty
    // heal any swap a previous maintenance crashed mid-rename FIRST: such a
    // cell's live dir is MISSING (its data sits in a hidden backup), so it
    // would be invisible to the fragmentation listing below — and silently
    // absent from every search — until restored
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(".cell=") && n.endsWith(".__old") =>
        n.stripPrefix(".").stripSuffix(".__old") }
      .foreach(live => graft.ops.Layout.recoverInterruptedSwap(fs,
        new org.apache.hadoop.fs.Path(root, live)))
    val cells = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    cells.flatMap { st =>
      val nFiles = fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet"))
      // the null-cell partition (wrong-dimension vectors land there as
      // cell=__HIVE_DEFAULT_PARTITION__) compacts like any other dir but
      // has no integer id to report
      val cellId = st.getPath.getName.stripPrefix("cell=").toIntOption
      if (nFiles <= maxFilesPerCell) None
      else {
        graft.ops.Layout.compactInPlace(spark, st.getPath.toString, targetBytes)
        cellId
      }
    }
  }

  /** Two-stage retrieval over the index: probe-cell partition pruning →
    * ADC candidate top-`kCand` from codes alone → exact-cosine re-rank of
    * candidates against the float `corpus` → top-`k`. Probe cells are
    * computed DRIVER-side from the literal centroids (O(centroids), no
    * job), so `cell IN probes` is a planning-time PartitionFilter: the
    * scan opens `nProbe` of the cell directories and reads only the code
    * column (PlanAuditSpec pins both on q155's composition).
    *
    * The re-rank FETCH is the step that would silently un-scale: a join
    * of 30 candidate ids against the corpus plans as broadcast-hash with
    * the corpus as the STREAMED side — a full 100 TB scan to fetch 30
    * rows. Instead the candidate ids (bounded by `kCand` — one of the
    * sanctioned bounded collects, like the limit(1) probes) come back to
    * the driver and re-enter as an `id IN (...)` literal predicate, which
    * reaches the parquet scan as a PushedFilter (IvfPqIndexSpec pins it):
    * row-group min/max statistics then skip everything outside the
    * candidates — on an id-sorted or Z-ordered corpus the fetch touches
    * O(kCand) row groups, not the table. Returns `(id, cell, sim, dist)`
    * ordered by (sim desc, id). */
  /** [[search]]'s candidate stage, exposed for plan auditing: the
    * partition-pruned, code-only ADC top-`kCand` over the index —
    * `(id, dist, cell)`. This is the plan whose scan shape carries the
    * scale story (PartitionFilters on the probed cells, ReadSchema
    * without the float column); IvfPqIndexSpec pins it here because
    * [[search]] collects this stage eagerly for the id-pushdown fetch. */
  def candidates(spark: SparkSession, path: String, id: String,
      queryVec: Seq[Double], codebooks: Seq[Seq[Seq[Double]]],
      centroids: Seq[Seq[Double]], nProbe: Int, kCand: Int): DataFrame = {
    require(kCand >= 1, s"kCand must be positive, got $kCand")
    graft.functions.GraftFunctions.register(spark)
    val index = Parquet.scan(spark, path)
    val probed = Similarity.ivfProbeCells(queryVec, centroids, nProbe)
    val pruned = index.filter(col("cell").isin(probed: _*))
    // literal-query ADC: the lookup tables fold into the plan as literal
    // arrays — m element_at's per row, fully codegen'd, no HOF hot loop
    Quantize.pqAdcTopKLiteral(
        pruned.select(col(id), col("pq_code")),
        id, "pq_code", queryVec, codebooks, k = kCand)
      .join(pruned.select(col(id), col("cell")), id)
  }

  def search(spark: SparkSession, path: String, corpus: DataFrame,
      id: String, vec: String, queryVec: Seq[Double],
      codebooks: Seq[Seq[Seq[Double]]], centroids: Seq[Seq[Double]],
      nProbe: Int, kCand: Int, k: Int): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    graft.functions.GraftFunctions.register(spark)
    val qdf = spark.range(1)
      .select(lit(queryVec.toArray).as("__qv"))
    val cand = candidates(spark, path, id, queryVec, codebooks, centroids,
      nProbe, kCand)
    // kCand-bounded driver round-trip: the ids become a pushable predicate
    val candRows = cand.collect()
    val candIds = candRows.map(_.get(0))
    val fetched = corpus.select(col(id), col(vec))
      .filter(col(id).isin(candIds.toIndexedSeq: _*))
    val candDf = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), cand.schema)
    fetched.join(broadcast(candDf), id)
      .crossJoin(broadcast(qdf))
      .select(col(id), col("cell"),
        round(graft.functions.GraftFunctions.cosineSim(
          col(vec), col("__qv")), 6).as("sim"),
        col("dist"))
      .orderBy(col("sim").desc, col(id))
      .limit(k)
  }

  /** Batched retrieval — [[search]] for a probe TABLE, the shape
    * production serving actually runs (a feature-backfill or hard-negative
    * job arrives with thousands of query vectors, and a per-query
    * [[search]] loop would pay one driver round-trip and one plan PER
    * probe). One pass, no per-probe driver action:
    *
    *  1. probe cells per row via the literal centroids
    *     ([[Similarity.ivfProbeCellsCol]] — map-only) and per-probe ADC
    *     lookup tables ([[Quantize.pqAdcTables]] — the O(m·K·subDim)
    *     table build runs once per PROBE, so each candidate row later
    *     costs m array lookups, codegen'd, not a HOF re-derivation);
    *  2. ONE partition-pruned index scan: the union of probed cells
    *     (bounded by the centroid count whatever the probe count — a
    *     sanctioned bounded collect) re-enters as `cell IN (...)`, a
    *     planning-time PartitionFilter, and the (probeId, cell) pairs
    *     equi-join it with the PROBE side broadcast — the index never
    *     shuffles (IvfPqIndexSpec pins one scan + the pruning);
    *  3. per-probe ADC top-`kCand` through [[Similarity.topKPerKey]]'s
    *     bounded heaps (sim = −dist; ties (dist asc, id asc) — identical
    *     to [[candidates]]' ordering), never a per-probe sort;
    *  4. ONE re-rank fetch: candidate ids (≤ probes·kCand, collected
    *     once) push down as `id IN (...)` when few enough for row-group
    *     skipping to win — above `maxPushdownIds` the filter would bloat
    *     the plan past its own savings, so the fetch degrades to one full
    *     corpus scan AMORTIZED over the whole probe table, which at that
    *     candidate volume is the cheaper plan anyway; exact cosine +
    *     per-probe top-`k` close it out.
    *
    * Probe frames broadcast twice (ids×cells, ids×vectors): sized for
    * probe tables up to ~10⁵ rows — beyond that, partition the probe
    * table and call per partition. `probeId` must be integral (the
    * bounded-heap stage keys on long); subsumes [[search]], which remains
    * the single-vector fast path with driver-side literal tables.
    * Returns `(probeId, neighbor_id, sim, rank)`, rank 1..k per probe by
    * (sim desc, id). */
  /** [[searchAll]]'s candidate stage, exposed for plan auditing (the
    * batched sibling of [[candidates]], and where the batched scale story
    * lives — [[searchAll]] collects this stage eagerly for the
    * id-pushdown fetch, so the ONE pruned index scan shows in THIS plan):
    * per-probe ADC top-`kCand` as `(__pid, __cid, dist)`. */
  def candidatesAll(spark: SparkSession, path: String, id: String,
      probes: DataFrame, probeId: String, probeVec: String,
      codebooks: Seq[Seq[Seq[Double]]], centroids: Seq[Seq[Double]],
      nProbe: Int, kCand: Int): DataFrame = {
    require(kCand >= 1, s"kCand must be positive, got $kCand")
    graft.functions.GraftFunctions.register(spark)
    val p = probes.select(col(probeId).cast("long").as("__pid"),
      Similarity.ivfProbeCellsCol(col(probeVec), centroids, nProbe)
        .as("__cells"),
      Quantize.pqAdcTables(col(probeVec), codebooks).as("__adc"))
    // bounded collect #1: distinct probed cells, ≤ |centroids| values
    // whatever the probe count — re-enters as a planning-time
    // PartitionFilter so the ONE index scan opens probed cell dirs only
    val probedCells = p.select(explode(col("__cells")).as("c"))
      .where(col("c").isNotNull).distinct().collect().map(_.getInt(0)).toSeq
    require(probedCells.nonEmpty, "no probe resolved to any index cell")
    val pruned = Parquet.scan(spark, path)
      .filter(col("cell").isin(probedCells: _*))
    val pc = p.select(col("__pid"), explode(col("__cells")).as("cell"))
    val scored = pruned
      .join(broadcast(pc), "cell")
      .join(broadcast(p.select(col("__pid"), col("__adc"))), "__pid")
      .select(col("__pid"), col(id).cast("long").as("neighbor_id"),
        (lit(0.0) - Quantize.pqAdcDistFromTables(col("__adc"),
          col("pq_code"), codebooks)).as("sim"))
    Similarity.topKPerKey(scored, "__pid", kCand)
      .select(col("__pid"), col("neighbor_id").as("__cid"),
        (lit(0.0) - col("sim")).as("dist"))
  }

  def searchAll(spark: SparkSession, path: String, corpus: DataFrame,
      id: String, vec: String, probes: DataFrame, probeId: String,
      probeVec: String, codebooks: Seq[Seq[Seq[Double]]],
      centroids: Seq[Seq[Double]], nProbe: Int, kCand: Int, k: Int,
      maxPushdownIds: Int = 100000): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    graft.functions.GraftFunctions.register(spark)
    val p = probes.select(col(probeId).cast("long").as("__pid"),
      col(probeVec).as("__pv"))
    val cand = candidatesAll(spark, path, id, probes, probeId, probeVec,
      codebooks, centroids, nProbe, kCand)
    // bounded collect #2: the candidate list, ≤ |probes|·kCand rows —
    // collected ONCE and reused both as the pushdown predicate and as the
    // (broadcast) join side, so the heap stage never recomputes
    val candRows = cand.collect()
    val candIds = candRows.map(_.getLong(1)).distinct
    val candDf = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), cand.schema)
    val fetchedBase = corpus.select(col(id).cast("long").as("__cid"),
      col(vec).as("__cv"))
    val fetched =
      if (candIds.length <= maxPushdownIds)
        fetchedBase.filter(col("__cid").isin(candIds.toIndexedSeq: _*))
      else fetchedBase
    val rescored = fetched
      .join(broadcast(candDf), "__cid")
      .join(broadcast(p.select(col("__pid"), col("__pv"))), "__pid")
      .select(col("__pid"),
        col("__cid").as("neighbor_id"),
        round(graft.functions.GraftFunctions.cosineSim(
          col("__cv"), col("__pv")), 6).as("sim"))
    Similarity.topKPerKey(rescored, "__pid", k)
      .select(col("__pid").as(probeId), col("neighbor_id"), col("sim"),
        col("rank"))
  }
}
