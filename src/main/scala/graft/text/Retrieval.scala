package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Refuse

/** Keyword retrieval over a document corpus (SURVEY.md §2.9 X4's retrieval
  * face): BM25 scoring, the standard lexical ranking function for corpus
  * curation ("find the documents most about X") and RAG-style recall.
  *
  * Okapi BM25 with the Lucene/Robertson idf variant:
  *
  *   score(d, q) = Σ_{t ∈ q} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
  *                 · tf_td·(k1 + 1) / (tf_td + k1·(1 − b + b·|d|/avgdl))
  *
  * Execution shape (declarative, Catalyst-planned):
  *  - ONE token explode filtered to the query's terms BEFORE the shuffle —
  *    the (doc, term) aggregation carries only matching rows, so a 100-term
  *    query over 100 TB shuffles ~|matching docs|·|terms| rows, not the
  *    corpus's token stream;
  *  - per-term document frequencies aggregate to ≤ |query| rows, broadcast
  *    back; corpus size and mean doc length ride a one-row broadcast — no
  *    driver-side collect anywhere;
  *  - per-term contributions are rounded then summed in exact DECIMAL so
  *    the score is independent of partitioning / evaluation order (the
  *    float-sum determinism rule every money/log column in this repo
  *    follows), which also makes the result portable to a SQL oracle;
  *  - final top-k is `orderBy(...).limit(k)` — Spark plans
  *    `TakeOrderedAndProject` (per-partition heaps + driver merge of k·P
  *    rows), never a global sort.
  */
object Retrieval {

  /** Top-k documents by BM25 over whitespace tokens ([[TextStats.tokens]]).
    * Ties break on ascending id, so the cut at `k` is deterministic.
    * Documents containing no query term score 0 and are never returned.
    * Returns (id, score, rank) with rank 1..k.
    *
    * Term contract, ENFORCED where silence would corrupt the ranking:
    * terms must be distinct (BM25 weights a repeated query term per
    * occurrence, but the per-(doc, term) aggregation would silently score
    * it once — reject rather than mis-rank) and whitespace-free (a term
    * containing a space can never equal a whitespace-split token; it would
    * silently contribute nothing). Terms match tokens EXACTLY, including
    * case — normalize both sides upstream with the same transform. */
  def bm25TopK(docs: DataFrame, id: String, text: Column,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 6): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.nonEmpty), "empty string is not a term")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate query terms would be silently scored once: $queryTerms")
    require(queryTerms.forall(!_.exists(_.isWhitespace)),
      s"terms are matched against whitespace-split tokens; a term with " +
        s"whitespace can never match: $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val reserved = Seq("__tk", "__dl", "__tok", "__tf", "__df", "__n", "__sumdl")
    require(!reserved.contains(id), s"bm25TopK reserves column names ${reserved.mkString(",")}")

    val toks = docs.select(col(id), TextStats.tokens(text).as("__tk"))
      .select(col(id), col("__tk"), size(col("__tk")).as("__dl"))
    // corpus scalars (N, Σ|d|): one partial-aggregated pass → one-row frame,
    // broadcast-joined back so the plan stays fully distributed
    val stats = toks.agg(count(lit(1)).as("__n"),
      sum(col("__dl").cast("long")).as("__sumdl"))
    // (doc, term) frequencies, query terms only: the isin prunes in the map
    // stage, before the aggregation shuffle
    val tf = toks
      .select(col(id), col("__dl"), explode(col("__tk")).as("__tok"))
      .filter(col("__tok").isin(queryTerms: _*))
      .groupBy(col(id), col("__dl"), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    // document frequency per query term: ≤ |queryTerms| rows
    val dfreq = tf.groupBy("__tok").agg(count(lit(1)).as("__df"))

    val avgdl = col("__sumdl").cast("double") / col("__n")
    val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val tfd = col("__tf").cast("double")
    val norm = tfd * (k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / avgdl))
    val contrib = round(idf * norm, roundTo).cast(DecimalType(28, 12))

    val scored = tf
      .join(broadcast(dfreq), "__tok")
      .crossJoin(broadcast(stats))
      .select(col(id), contrib.as("__c"))
      .groupBy(col(id))
      .agg(round(sum(col("__c")).cast("double"), roundTo).as("score"))
      .orderBy(col("score").desc, col(id).asc)
      .limit(k) // TakeOrderedAndProject: bounded heaps, no global sort
    // rank over the k returned rows only — the single-partition window is
    // bounded by k, not by the corpus
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(id).asc)).cast("int"))
  }

  /** X68 — reciprocal-rank fusion (Cormack, Clarke & Büttcher SIGIR'09):
    * merge rankings from heterogeneous retrievers — BM25, dense ANN,
    * MaxSim, a metadata sort — by summing 1/(k0 + rank) per document.
    * RRF is the standard hybrid-search combiner precisely because it
    * needs NO score calibration: only ranks cross systems, so a BM25
    * score of 14.2 and a cosine of 0.83 fuse without a learned weight,
    * and one system's score scale can never drown another's.
    *
    * Each input ranking is a frame with the `id` column and an integer
    * `rank` (1-based; [[bm25TopK]] and [[graft.sim.Similarity.topKPerKey]]
    * outputs plug in directly). Output: `(id, rrf_micro, n_systems)`, the
    * fused top-`topK` by (rrf_micro desc, id asc) — `n_systems` says how
    * many rankings surfaced the doc (the agreement signal hybrid gates
    * threshold on). Each ranking must list an id at most ONCE — a
    * duplicate would fold two reciprocals into one inflated score, so it
    * is rejected — and the check rides INSIDE the fusion's one
    * aggregation: each row contributes its ranking's bit to a
    * `bit_or(1 << sys)` alongside the reciprocal sum, and a row count
    * exceeding the popcount convicts some ranking of a duplicate
    * (`raise_error` at that id). Zero extra jobs: a pre-validation pass
    * would recompute every upstream retrieval — q210's BM25 + dense
    * chains — just to count ids, doubling the cost of the very stages
    * fusion exists to sit cheaply on top of. The bitmask caps inputs at
    * 63 rankings; hybrid stacks fuse a handful.
    *
    * Fixed-point by construction: the contribution is `Micro DIV
    * (k0 + rank)` — integer floor division, so fused scores are exact
    * integers, order-free under any partitioning, and engine-portable
    * with no float caveat at all (the one operator in the retrieval
    * family with zero ulp risk). The ≤ 1/(k0+1)·Micro quantization error
    * vs real-valued RRF cannot reorder results that real RRF separates by
    * ≥ 1 micro. Scale shape: inputs are already top-k-bounded (systems ×
    * k rows total), one union + one keyed aggregation + one bounded
    * top-k — trivially small next to the retrievals it fuses. */
  def rrfFuse(rankings: Seq[DataFrame], id: String, k0: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rankings.size <= 63,
      s"rrfFuse fuses at most 63 rankings (the dup-guard bitmask), " +
        s"got ${rankings.size}")
    require(k0 >= 0, s"k0 must be non-negative, got $k0")
    require(topK >= 1, s"topK must be positive, got $topK")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(id), col("rank").cast("long").as("__r"),
        lit(i).as("__sys"))
    }
    val fused = tagged.reduce(_ unionAll _)
      .groupBy(col(id))
      .agg(sum(expr(s"1000000 DIV ($k0 + __r)")).as("rrf_micro"),
        count(lit(1)).as("__n"),
        expr("bit_count(bit_or(shiftleft(1L, __sys)))").cast("long")
          .as("n_systems"))
    // duplicate-id conviction in the SAME pass: a ranking listing an id
    // twice contributes two rows but one bit, so __n > n_systems
    Refuse.rows(fused, (col("__n") =!= col("n_systems")) -> concat(
        lit("rrfFuse: id "), col(id).cast("string"),
        lit(" is listed more than once within a single ranking — "),
        lit("each input must rank a document at most once")))
      .select(col(id), col("rrf_micro"), col("n_systems"))
      .orderBy(col("rrf_micro").desc, col(id).asc)
      .limit(topK)
  }
}
