package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Parquet

/** X72 — a MATERIALIZED inverted index for BM25 (the Lucene/Tantivy
  * serving structure, re-expressed as columnar tables): [[Retrieval
  * .bm25TopK]] is the one-shot face — it tokenizes and scans the whole
  * corpus per query, the right shape for ad-hoc curation questions — but
  * a retrieval SERVICE answering many queries cannot pay a corpus scan
  * each; it pays once at BUILD time and then reads only the queried
  * terms' postings. That asymptote change (O(corpus) → O(matching
  * postings) per query) is the entire reason inverted indexes exist.
  *
  * Layout (all plain parquet — no custom format, every table readable by
  * any engine):
  *  - `dir/postings`: one row per (term, doc) — `(term, doc_id, tf, dl)`.
  *    The document length rides IN the posting row (the impact-index
  *    denormalization), so scoring never joins a corpus-sized doc-length
  *    table: everything BM25 needs about a match is in the pruned rows.
  *    Files are range-sharded on `term` and sorted within files, so a
  *    `term IN (...)` predicate prunes at THREE levels: zone-map-style
  *    file ranges (parquet footer min/max over the sorted layout), row
  *    groups within surviving files, and pages — the columnar stand-in
  *    for posting-list seeks. A term's postings live contiguously in one
  *    (or few) files; everything else is never decompressed.
  *  - `dir/stats`: ONE row `(n, sumdl)` — corpus size and total length,
  *    the BM25 normalization scalars, broadcast at query time.
  *
  * Build cost: one tokenize + explode + (doc,term)-keyed aggregation with
  * map-side combine — O(total tokens), the same pass [[Retrieval
  * .bm25TopK]] pays PER QUERY, paid once. The range shard on `term` is
  * one repartitionByRange (sampled cut points — layout-only, results
  * never depend on them).
  *
  * Query cost: the postings scan carries `term IN (queryTerms)` as a
  * PUSHED filter (plan-pinned in `RetrievalSpec`); per-term document
  * frequencies aggregate from the pruned rows (≤ |terms| output rows,
  * broadcast back); the arithmetic is [[Retrieval.bm25TopK]]'s to the
  * last rounding — the two faces are REQUIRED equal (q217 asserts it
  * in-query), which is the index-correctness contract a serving stack
  * actually needs: an index that returns different scores than the scan
  * is corrupt, however fast.
  *
  * Freshness: the index is a point-in-time snapshot; appends compose the
  * same way every search engine's do — index the new segment and merge
  * results (the X59 ledger / X69 incremental-manifest pattern applies
  * verbatim to `postings` as a growing table). */
object InvertedIndex {

  /** Tokenize `docs` and write the postings + stats tables under `dir`
    * (overwrite). Tokens are [[TextStats.tokens]] (whitespace), matching
    * [[Retrieval.bm25TopK]] exactly — same contract: terms later queried
    * must match tokens byte-for-byte, normalize upstream. `shards` bounds
    * the postings file count (range-sharded on term; at production scale
    * size this to ~128 MB files). */
  def build(docs: DataFrame, id: String, text: String, dir: String,
      shards: Int = 4): Unit = {
    require(shards >= 1, s"shards must be positive, got $shards")
    val toks = toksOf(docs, id, text)
    postingsOf(toks)
      .repartitionByRange(shards, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    toks.agg(count(lit(1)).as("n"), sum(col("dl").cast("long")).as("sumdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Top-k by BM25 off the index — [[Retrieval.bm25TopK]]'s semantics
    * (same idf variant, same DECIMAL-exact contribution sum, same
    * (score desc, id asc) tie rule, same term contract), answered from
    * the postings table with the term filter pushed into the scan.
    * Returns (doc_id, score, rank). */
  def bm25TopK(spark: SparkSession, dir: String, queryTerms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      roundTo: Int = 6): DataFrame =
    score(Parquet.scan(spark, s"$dir/postings"),
      Parquet.scan(spark, s"$dir/stats").select(col("n"), col("sumdl")),
      queryTerms, k, k1, b, roundTo)

  /** The ONE scoring path both faces (static directory, segmented ledger)
    * answer through — a face-local arithmetic fork here is an index that
    * can disagree with itself. `postings` is any (term, doc_id, tf, dl)
    * frame; `stats` any one-row (n, sumdl) frame. */
  private def score(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String], k: Int, k1: Double, b: Double,
      roundTo: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.nonEmpty), "empty string is not a term")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate query terms would be silently scored once: $queryTerms")
    require(queryTerms.forall(!_.exists(_.isWhitespace)),
      s"terms are matched against whitespace-split tokens; a term with " +
        s"whitespace can never match: $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    // the asymptote: only the queried terms' postings leave the scan
    val tf = postings.filter(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))

    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log((col("n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val tfd = col("tf").cast("double")
    val norm = tfd * (k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val contrib = round(idf * norm, roundTo).cast(DecimalType(28, 12))

    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), contrib.as("__c"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__c")).cast("double"), roundTo).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("int"))
  }

  // ------------------------------------------------------------------
  // Segment face — the FRESHNESS story: a live corpus indexes batch by
  // batch, each batch an immutable SEGMENT committed exactly once, with
  // segment merge as compaction — the Lucene lifecycle, carried verbatim
  // by the graft.core.Table append ledger (X59): postings and per-segment
  // stats are two ledgers whose delta id IS the segment id, so a replayed
  // batch (stream restart, task retry at the orchestrator level) no-ops
  // without even building its frame's plan, and ledgerCompact folds
  // fragmented segments into one base — query plans shrink back to a
  // near-single-directory scan without any rebuild.
  //
  // Contract: segments PARTITION the corpus by document — a doc is
  // indexed in exactly one segment (the natural shape when segments are
  // arrival batches). DELETES are merge-on-read tombstones, the Lucene
  // .del lifecycle: [[deleteDocs]] commits doc_id batches exactly once to
  // a third ledger (`ii_deletes`, its own contiguous id space), the
  // segmented query masks postings by ONE anti-join before scoring, and
  // [[compactSegments]] applies the mask physically to the folded
  // postings base — then, and only then, drops the tombstones.
  //
  // Two deliberate semantics, both matching X50's delete-over-update
  // discipline (a delete masks rows; it never rewrites history):
  //  - corpus scalars (n, sumdl) are INDEX-LIFETIME constants — a deleted
  //    doc stops matching but does not retroactively re-normalize every
  //    other document's score (Lucene's maxDoc behaves the same until
  //    merge; here it holds across merge too, which is what makes
  //    pre/post-compaction results byte-identical);
  //  - a tombstone masks its doc_id in ALL segments, past and future —
  //    re-adding a deleted id resurrects nothing until a compaction has
  //    applied and cleared the tombstone; re-ingest under a new id, the
  //    CDC key discipline.
  // ------------------------------------------------------------------

  private def toksOf(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"), TextStats.tokens(col(text)).as("__tk"))
      .select(col("doc_id"), col("__tk"), size(col("__tk")).as("dl"))

  private def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("dl"), explode(col("__tk")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("long").as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl").cast("long"))

  /** Commit batch `segId`'s postings + stats exactly once; returns whether
    * anything was written (false = full replay no-op). `docs` is by-name:
    * a replayed segment never builds the batch's plan. Two ledgers commit
    * in a fixed order (postings, then stats); a crash between them heals
    * on the replay — the postings append no-ops and the stats append
    * completes, the q158 two-phase pattern. */
  def indexSegment(spark: SparkSession, dir: String, segId: Long,
      docs: => DataFrame, id: String, text: String): Boolean = {
    lazy val toks = toksOf(docs, id, text)
    val wroteP = graft.core.Table(spark, dir, "ii_postings")
      .ledgerAppendIfAbsent(segId, postingsOf(toks))
    val wroteS = graft.core.Table(spark, dir, "ii_stats")
      .ledgerAppendIfAbsent(segId,
        toks.agg(count(lit(1)).as("n"), sum(col("dl").cast("long")).as("sumdl"))
          .select(lit(segId).as("seg"), col("n"), col("sumdl")))
    wroteP || wroteS
  }

  /** Commit delete batch `delId`'s doc_id tombstones exactly once;
    * returns whether a write happened (false = replay no-op, without
    * building the by-name frame — the [[indexSegment]] discipline).
    * Delete batches have their own contiguous ledger-id space,
    * independent of segment ids. Deleted docs vanish from
    * [[bm25TopKSegmented]] immediately (merge-on-read) and from the
    * physical postings at the next [[compactSegments]] fold. */
  def deleteDocs(spark: SparkSession, dir: String, delId: Long,
      ids: => DataFrame, idCol: String = "doc_id"): Boolean =
    graft.core.Table(spark, dir, "ii_deletes").ledgerAppendIfAbsent(delId, {
      ids.select(col(idCol).as("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
    })

  /** The committed tombstone set, if any delete batch ever committed —
    * None keeps delete-free indexes on the exact pre-tombstone plan. */
  private def deleteSet(spark: SparkSession, dir: String): Option[DataFrame] = {
    val t = graft.core.Table(spark, dir, "ii_deletes")
    t.ledgerMax.map(_ => t.readLedger.select("doc_id").distinct())
  }

  /** Fold fragmented segments (both ledgers) when live deltas exceed
    * `maxDeltas` — segment MERGE. Returns whether a fold ran. Reads
    * before and after are value-identical; only the file population
    * changes. When tombstones exist, the postings fold applies them
    * physically (anti-join into the new base — merge-on-read becomes
    * merge-on-write, the Lucene merge dropping .del'd docs), and the
    * tombstone ledger is cleared ONLY when that fold actually ran —
    * clearing it any earlier would resurrect deleted documents. A crash
    * between the postings fold and the clear leaves applied tombstones
    * behind: re-masking already-absent rows is a no-op, reads stay
    * correct, and the next fold clears them.
    *
    * Concurrent-append safety: the ledger design tolerates appends
    * racing folds (the `.staging-d*` grace-window sweep exists for
    * exactly that), so a [[deleteDocs]] batch CAN commit between this
    * function's tombstone snapshot and its clearing fold. The applied
    * snapshot's ledger id is therefore recorded up front, and the clear
    * folds to the rows of every delete delta COMMITTED AFTER it (re-read
    * inside the fold, after the compact's own listing) instead of to
    * empty — a racing delete batch survives the clear un-applied and is
    * applied by the next fold, never destroyed. The residual race
    * (a delta landing between the compact's listing and the fold's
    * re-read) can only DUPLICATE tombstone rows into the new base while
    * the delta also stays live — harmless, tombstones are a set. */
  def compactSegments(spark: SparkSession, dir: String,
      maxDeltas: Int): Boolean = {
    val delT = graft.core.Table(spark, dir, "ii_deletes")
    // applied-snapshot bound BEFORE reading the tombstones: the postings
    // fold applies at least ids <= this (possibly more, if a delete lands
    // between here and the fold's read — over-apply is a no-op re-mask)
    val delMax0 = delT.ledgerMax
    val del = deleteSet(spark, dir)
    val fold: DataFrame => DataFrame = del match {
      // the using-column join hoists doc_id to the front; fold must keep
      // the ledger's column order (schema-preservation contract)
      case Some(d) => pp => pp.join(d, Seq("doc_id"), "left_anti")
        .select(pp.columns.map(col): _*)
      case None => identity
    }
    val p = graft.core.Table(spark, dir, "ii_postings")
      .ledgerCompact(maxDeltas, fold)
    val s = graft.core.Table(spark, dir, "ii_stats").ledgerCompact(maxDeltas)
    val dCleared = if (p && del.nonEmpty)
      // -1 when the FIRST delete batch itself raced in after the bound
      // was read: nothing is guaranteed applied, so preserve everything
      clearAppliedTombstones(delT, delMax0.getOrElse(-1L))
    else false
    p || s || dCleared
  }

  /** Clear the tombstone ledger up to applied bound `m0` — the fold
    * PRESERVES every delete batch committed after it: the postings fold
    * may never have seen those, and folding them to empty would
    * permanently resurrect their docs. A preserved batch is applied (and
    * then cleared) by the next [[compactSegments]]. The newer-delta set
    * is re-read INSIDE the fold — after the compact's own listing — so
    * a batch landing mid-clear can at worst be duplicated into the new
    * base while its delta also stays live (harmless: tombstones are a
    * set), never destroyed.
    *
    * Base-only state needs arming: `ledgerCompact(0, _)` is a listing
    * no-op when no live delta exists, so applied rows RESIDENT IN THE
    * BASE (a previous clear's preserved batches) would otherwise persist
    * until some future delete delta happened to land. When every
    * committed id is <= `m0` and the base still holds rows, one EMPTY
    * delta commits (id = max+1, ledger schema) purely to arm the fold —
    * the preserving fold then keeps exactly that empty delta and the
    * base clears. A real delete batch racing into that id slot is fine:
    * the append dedupes by id and the fold preserves the racer. */
  private[text] def clearAppliedTombstones(delT: graft.core.Table,
      m0: Long): Boolean = {
    val preservingFold: DataFrame => DataFrame = merged => {
      val m1 = delT.ledgerMax.get
      if (m1 <= m0) merged.limit(0)
      else ((m0 + 1) to m1).map(delT.readLedgerDelta)
        .reduce(_.unionByName(_))
        .select(merged.columns.map(col): _*)
    }
    if (delT.ledgerCompact(0, preservingFold)) true
    else delT.ledgerMax match {
      case Some(m) if m <= m0 && !delT.readLedger.isEmpty =>
        delT.ledgerAppendIfAbsent(m + 1, delT.readLedger.limit(0))
        delT.ledgerCompact(0, preservingFold)
      case _ => false
    }
  }

  /** [[bm25TopK]] over the committed segment set: postings = the ledger
    * read (highest base + live deltas — ONE multi-path scan, the term
    * filter pushed into every member directory) minus the tombstone set
    * (one doc-keyed anti-join against the deletes ledger, skipped
    * entirely when no delete batch ever committed), corpus scalars = the
    * per-segment stats rows summed to one broadcast row (index-lifetime
    * constants — see the tombstone contract above). Same scoring path as
    * the static face, by construction. */
  def bm25TopKSegmented(spark: SparkSession, dir: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, roundTo: Int = 6): DataFrame = {
    val raw = graft.core.Table(spark, dir, "ii_postings").readLedger
    val postings = deleteSet(spark, dir) match {
      case Some(d) => raw.join(d, Seq("doc_id"), "left_anti")
      case None => raw
    }
    score(postings,
      graft.core.Table(spark, dir, "ii_stats").readLedger
        .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl")),
      queryTerms, k, k1, b, roundTo)
  }
}
