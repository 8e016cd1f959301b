package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Parquet, Table}
import graft.core.Scratch.workDir
import graft.dedup.Dedup
import graft.functions.Aggregators
import graft.multimodal.Multimodal
import graft.ops.{Associations, Layout, Ops, Privacy, Sampling, Sketches, ZoneMaps}
import graft.sim.{Quantize, Similarity}
import graft.text.{Dsir, InvertedIndex, Markup, QualityClassifier, Retrieval, TextStats, Url}

/** LLM-training-data pipeline queries (SURVEY.md §2.9): dedup, similarity
  * search, text analysis, multimodal plumbing — over the `documents` and
  * `embeddings` fixture tables, each with a DuckDB oracle where the result is
  * engine-portable (hash-free or hash-collision-insensitive outputs).
  */
object LlmOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Table(s, dir, name).read

  /** Rebalance a scan before a CPU-heavy per-row stage. The fixture tables
    * are single-row-group parquet files, so the scan yields ONE input split
    * and a lambda-heavy map (repetition rules, entropy folds, gram
    * explodes) runs on one core no matter how many the session has —
    * maxPartitionBytes cannot split inside a row group. One round-robin
    * shuffle of the (small) raw rows decouples map parallelism from file
    * layout; on a real cluster the same rebalance is what you do when
    * upstream filtering/layout leaves fewer healthy partitions than cores
    * ahead of an expensive stage. Map-only queries stay value-identical:
    * every consumer below re-orders or re-aggregates. */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  // DuckDB-side tokenizer identical to TextStats.tokens.
  private val dTok = "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)"

  // DuckDB-side TextStats.qualityScore — the ONE definition shared by every
  // oracle that references the quality column (q22, q57).
  private lazy val dQuality =
    s"""round(
       |    least(CAST(len($dTok) AS DOUBLE) / 64.0, 1.0) * 0.4
       |    + (1.0 - least(CASE WHEN len(text) = 0 THEN 0.0
       |                        ELSE CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text) END * 4.0, 1.0)) * 0.3
       |    + CASE WHEN len($dTok) = 0 THEN 0.0
       |           ELSE CAST(len(list_distinct($dTok)) AS DOUBLE) / CAST(len($dTok) AS DOUBLE) END * 0.3, 6)""".stripMargin

  // ------------------------------------------------------------------
  // Shared near-dup artifacts (the reference's task→table→task boundary,
  // in-session): the word-3-gram shingle-set frame, the Jaccard≥0.8 pair
  // list, and the duplicate-cluster map each feed several queries below —
  // computed once per (session, dir), persisted, reused.
  private def docSets(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, dir, "doc_shingle_sets_n3")(
      Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", n = 3))

  private def docPairs(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, dir, "jaccard_pairs_n3_t08")(
      Dedup.jaccardSimilarityJoinOnSets(docSets(s, dir), "doc_id", threshold = 0.8))

  private def docClusters(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, dir, "dedup_clusters_n3_t08")(
      Dedup.connectedComponents(docPairs(s, dir), t(s, dir, "documents"), "doc_id"))

  /** q163/q164's shared DSIR score frame (the task→table→task boundary):
    * one gram explode builds both distributions and the scores; the
    * resample query reuses the identical frame instead of re-scoring. */
  private def dsirScores(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, dir, "dsir_scores_en_1024") {
      // the general two-corpora composition, kept deliberately over the
      // single-scan `importanceScoresSelfRaw`: at bench SF the three md5
      // passes stay FUSED into pipelined stages (0.44–0.81 s warm at sf0.1)
      // while selfRaw's persist + broadcast + eager-truncate barriers cost
      // 2.5–5.8 s on the same box — the one-scan trade only wins when the
      // corpus scan dominates the barriers (the 100 TB setting selfRaw's
      // scaladoc targets; DsirSpec pins value equality of the two forms)
      val docs = spread(s, t(s, dir, "documents"))
      Dsir.importanceScores(docs, "doc_id", "text",
        target = Dsir.bucketDistribution(
          docs.filter(col("lang") === "en"), "doc_id", "text", buckets = 1024),
        raw = Dsir.bucketDistribution(docs, "doc_id", "text", buckets = 1024),
        buckets = 1024)
    }

  /** Force-build (and persist) every shared artifact for (session, dir).
    * Bench calls this BEFORE timing each suite run so the first consumer
    * of a shared frame no longer pays — and misattributes — the build
    * (q135/q136 headed r11/r12's timing tables on exactly that); the
    * build cost appears as its own `artifacts_s` line instead. */
  def prewarmSharedArtifacts(s: SparkSession, dir: String): Unit = {
    docSets(s, dir).count()
    docPairs(s, dir).count()
    docClusters(s, dir).count()
    dsirScores(s, dir).count()
  }

  val queries: Vector[Q] = Vector(
    // ------------------------------------------------------------------
    // q22 — text statistics: token counts, lexical diversity, quality score
    // (X4). Pure map stage: no shuffle, fused into the parquet scan.
    Q("q22_text_stats",
      (s, dir) => {
        val txt = col("text")
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            TextStats.tokenCount(txt).as("n_tokens"),
            TextStats.distinctTokenCount(txt).as("n_distinct"),
            round(TextStats.avgTokenLength(txt), 6).as("avg_token_len"),
            TextStats.qualityScore(txt).as("quality"))
          .orderBy("doc_id")
      },
      // empty/whitespace-only docs: Spark's guards yield avg_token_len 0.0,
      // punct ratio 0 and diversity 0 — the CASE arms mirror them so the
      // oracle cannot diverge into NULL via 0/0 on a future fixture
      Some(s"""SELECT doc_id,
             |  CAST(len($dTok) AS INTEGER) AS n_tokens,
             |  CAST(len(list_distinct($dTok)) AS INTEGER) AS n_distinct,
             |  CASE WHEN len($dTok) = 0 THEN 0.0
             |       ELSE round(CAST(list_sum(list_transform($dTok, x -> len(x))) AS DOUBLE) / len($dTok), 6) END AS avg_token_len,
             |  $dQuality AS quality
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q23 — dictionary language identification (X4): overlap score against
    // per-language marker lists, argmax with deterministic tie-break.
    // langId scores tokens of lower(text), so the oracle (and q188's)
    // lowercases too — on an all-lowercase fixture the difference is
    // invisible, which is exactly how such a drift would hide until a
    // mixed-case regeneration turned the row red.
    Q("q23_langid",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextStats.langId(col("text")).as("pred_lang"))
          .orderBy("doc_id")
      },
      Some {
        val profiles = TextStats.defaultProfiles.sortBy(_._1)
        val values = profiles.map { case (lang, words) =>
          s"('$lang', [${words.map(w => s"'$w'").mkString(", ")}])"
        }.mkString(",\n    ")
        s"""WITH toks AS (SELECT doc_id, lang,
           |    ${dTok.replace("(text,", "(lower(text),")} AS tk FROM documents),
           |scored AS (
           |  SELECT doc_id, lang, p.cand, len(list_filter(tk, x -> list_contains(p.words, x))) AS score
           |  FROM toks CROSS JOIN (VALUES
           |    $values) p(cand, words))
           |SELECT doc_id, lang, cand AS pred_lang FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM scored)
           |WHERE rn = 1
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q24 — document fingerprinting (X4): 64-bit xxhash64 shingle
    // fingerprints; the distinct-fingerprint count equals the distinct-
    // shingle count (collision probability ~2⁻⁴⁰ at this scale), which makes
    // the hash-based computation oracle-checkable.
    Q("q24_fingerprints",
      (s, dir) => {
        val txt = col("text")
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            // count by arithmetic (tokens − n + 1), NOT size(shingles(...)):
            // shingle expressions carry lambdas, are excluded from codegen
            // CSE, and would be assembled a second time just to be counted
            TextStats.shingleCount(txt, 3).as("n_shingles"),
            size(TextStats.fingerprints(txt, 3)).as("n_distinct_shingles"))
          .withColumn("dup_ratio",
            round(lit(1.0) - col("n_distinct_shingles").cast("double") / col("n_shingles"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
             |  SELECT doc_id,
             |    [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)] AS shingles
             |  FROM (SELECT doc_id, $dTok AS tk FROM documents))
             |SELECT doc_id,
             |  CAST(len(shingles) AS INTEGER) AS n_shingles,
             |  CAST(len(list_distinct(shingles)) AS INTEGER) AS n_distinct_shingles,
             |  round(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE) / len(shingles), 6) AS dup_ratio
             |FROM sh
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q25 — term frequency: explode tokens → groupBy → top 20 (X4). The
    // shuffle carries (token, partial count) pairs — vocabulary-sized, not
    // corpus-sized, thanks to partial aggregation.
    Q("q25_term_frequency",
      (s, dir) => {
        t(s, dir, "documents")
          .select(explode(TextStats.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token").asc)
          .limit(20)
      },
      Some(s"""SELECT token, count(*) AS tf
             |FROM (SELECT unnest($dTok) AS token FROM documents)
             |GROUP BY token
             |ORDER BY tf DESC, token
             |LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q26 — exact dedup (X1): duplicate the corpus under SHIFTED ids (so each
    // text exists under two different doc_ids), then collapse to one row per
    // distinct text keeping the smallest id — the oracle's min(doc_id) only
    // matches if keep-FIRST semantics actually hold.
    Q("q26_exact_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val shifted = docs.withColumn("doc_id", col("doc_id") + 1000000)
        Dedup.exactKeepFirst(docs.unionAll(shifted), Seq("text"), col("doc_id"))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      // grouped by text ALONE (the dedup key), taking the min-id row's
      // lang/source via arg_min — same row-level keep-first semantics as the
      // Spark side even if a text ever repeats under different lang/source
      Some("""SELECT min(doc_id) AS doc_id,
             |       arg_min(lang, doc_id) AS lang, arg_min(source, doc_id) AS source
             |FROM (SELECT * FROM documents
             |      UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents)
             |GROUP BY text
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q27 — n-gram Jaccard near-duplicate pairs (X2), exact inverted-index
    // set-similarity join at threshold 0.8 over word-3-gram shingles.
    Q("q27_jaccard_pairs",
      (s, dir) => {
        docPairs(s, dir)
          .orderBy("id_a", "id_b")
      },
      Some(jaccardOracleSql)),

    // ------------------------------------------------------------------
    // q28 — MinHash-LSH near-duplicate pairs (X2): banded minhash signatures
    // propose candidates, exact Jaccard verifies. At (b=32, r=4) the miss
    // probability at j=0.8 is ~5e-8, so the output equals the exact pair set
    // — checked against the same brute-force oracle as q27.
    Q("q28_minhash_lsh_pairs",
      (s, dir) => {
        Dedup.minHashLshPairsOnSets(docSets(s, dir), "doc_id",
            threshold = 0.8, bands = 32, rowsPerBand = 4)
          .orderBy("id_a", "id_b")
      },
      Some(jaccardOracleSql)),

    // ------------------------------------------------------------------
    // q29 — SimHash near-dedup (X2c), run at its provable-recall point: the
    // corpus is doubled under shifted ids (every text gains an exact
    // duplicate, the q26 idiom), and the full simhash pipeline — signature
    // aggregation, quarter-blocked candidate join, exact Jaccard
    // verification — retrieves the identical-shingle-set pairs. j = 1 ⇒
    // identical fingerprint sets ⇒ identical simhash ⇒ Hamming 0 ⇒ found:
    // recall is 1 BY CONSTRUCTION at (threshold=1, maxHamming=0), making the
    // output the SQL-expressible "identical shingle sets" pair set (the
    // analog of q38's degenerate-IVF exactness run). The general
    // approximate operating point (Hamming ≤ 3, hash-dependent output) is
    // covered by DedupSpec, which pins its verified output ⊆ the exact pair
    // set; fixture measurement: at word-3-gram Jaccard 0.8 the planted
    // near-dup pairs sit at Hamming up to 11 of 64, so simhash blocking is
    // honest only for near-identical text (j ≳ 0.95 needs all 64 bits ≈
    // equal on short docs) — that regime is exactly what this query runs.
    Q("q29_simhash_pairs",
      (s, dir) => {
        // the doubled corpus's shingle sets AND signatures derive from the
        // cached artifact: neither changes under an id shift, so signatures
        // are computed once over the originals and unioned shifted — the
        // materialized-signature pipeline shape (sigs are 8 bytes/doc)
        val sets = docSets(s, dir)
        val doubledSets = sets.unionAll(
          sets.withColumn("doc_id", col("doc_id") + 1000000))
        val sigs = Dedup.simHashesOnSets(sets, "doc_id")
        val doubledSigs = sigs.unionAll(
          sigs.withColumn("doc_id", col("doc_id") + 1000000))
        Dedup.simHashNearDupPairsOnSigs(doubledSigs, doubledSets, "doc_id",
            threshold = 1.0, maxHamming = 0)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS s
             |  FROM (SELECT doc_id, $dTok AS tk FROM d))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE len(a.s) > 0
             |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 1.0
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q30 — brute-force cosine top-k similarity search (X3): probe set =
    // vec_id < 5, k = 10, scored with the codegen'd native cosine_sim
    // expression, ranked by the shuffle-bounded two-phase top-k.
    Q("q30_ann_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 5)
              .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
            "query_id", "qvec", k = 10)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
             |s AS (SELECT query_id, neighbor_id,
             |        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
             |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
             |SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
             |WHERE rn <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q31 — embedding near-duplicate pairs, exact (X3): all pairs with
    // cosine ≥ 0.45 (broadcast nested loop; the LSH-bucketed variant is q32).
    Q("q31_cosine_pairs",
      (s, dir) => {
        Similarity.cosinePairsExact(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.45)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
             |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.45
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q32 — embedding near-duplicate pairs via random-hyperplane LSH (X3),
    // run at its provable-recall point: the corpus is doubled under shifted
    // ids (every vector gains an exact duplicate), and the LSH pipeline —
    // signature aggregation over the broadcast plane table, banded bucket
    // join, exact cosine rerank — retrieves the duplicate pairs. An
    // identical vector pair has identical sign bits on every hyperplane, so
    // it collides in EVERY band: recall 1 by construction at cos = 1, and
    // the τ = 0.999 rerank excludes all natural pairs (fixture max pairwise
    // cosine 0.513) — the output is the SQL-expressible identical-vector
    // pair set. The approximate operating point (τ = 0.45, probabilistic
    // recall) stays spec-pinned in SimilaritySpec (output ⊆ exact, recall
    // floor); it has no portable oracle because at τ = 0.45 — a 63° angle,
    // near-random — sign-LSH retrieval is inherently probabilistic, and any
    // parameterization with recall ≈ 1 there degenerates to verifying
    // nearly all pairs (the fixture's embeddings have no high-cosine
    // natural pairs to demonstrate the production regime, τ ≥ 0.9, where
    // banding prunes well).
    Q("q32_cosine_pairs_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val doubled = emb.unionAll(
          emb.withColumn("vec_id", col("vec_id") + 1000000))
        Similarity.cosinePairsLsh(doubled, "vec_id", "embedding",
            threshold = 0.999, bands = 8, rowsPerBand = 8)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |  UNION ALL SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings),
             |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
             |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.999
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q33 — multimodal plumbing (X5): binary payload + typed metadata +
    // partition-batched stub decode. Width/height come from the deterministic
    // fake decoder, reproduced arithmetically by the oracle.
    Q("q33_multimodal_meta",
      (s, dir) => {
        val withPayload = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
        val decoded = Multimodal.decodePartitions(withPayload, "doc_id", "payload")
        withPayload
          .select(col("doc_id"), col("source"), length(col("payload")).cast("long").as("n_bytes"))
          .join(decoded, "doc_id")
          .select("doc_id", "source", "n_bytes", "width", "height")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source,
             |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 16 AS INTEGER) AS width,
             |  CAST((octet_length(CAST(text AS BLOB)) * 7 + octet_length(CAST(text AS BLOB)) % 251) % 480 + 16 AS INTEGER) AS height
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q37 — duplicate clustering (X2): connected components over the exact
    // Jaccard ≥ 0.8 near-dup graph; every doc maps to the min doc_id of its
    // cluster (itself when it has no near-dups). Oracle reconstructs the
    // components with a recursive CTE.
    Q("q37_dedup_clusters",
      (s, dir) => {
        docClusters(s, dir)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dClusterCtes
             |SELECT d.doc_id, COALESCE(least(c.mn, d.doc_id), d.doc_id) AS component
             |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q40 — end-to-end near-dedup (X2): drop every document that is not its
    // duplicate-cluster representative (the min doc_id of its component).
    // The complete dedup story: pair discovery → clustering → filtering.
    Q("q40_near_dedup_corpus",
      (s, dir) => {
        // Pipeline-ordering note: in production run EXACT dedup (q26's
        // exactKeepFirst on a text hash) BEFORE this near-dedup pass — exact-
        // duplicate classes then never reach the candidate joins, which is
        // what keeps LSH bucket sizes (and the maxBucketSize cap) a non-event.
        // The fixture corpus is exact-dup-free, so this query starts at the
        // near-dedup stage; pairs and clusters come from the shared artifacts.
        val docs = t(s, dir, "documents")
        docs.join(docClusters(s, dir).filter(col("doc_id") === col("component"))
            .select("doc_id"), "doc_id")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dClusterCtes
             |SELECT d.doc_id, d.lang, d.source
             |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
             |WHERE c.mn IS NULL OR d.doc_id <= c.mn
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q41 — TF-IDF (X4): top 50 (doc, token) pairs by tf-idf weight.
    Q("q41_tfidf",
      (s, dir) => {
        // doc count N computed inside the plan (broadcast one-row aggregate),
        // not via a driver-side docs.count() job before the query exists
        TextStats.tfIdf(t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("tfidf").desc, col("doc_id").asc, col("token").asc)
          .limit(50)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($dTok) AS token FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
             |dfx AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token)
             |SELECT doc_id, token, tf, df,
             |  round(tf * ln(1.0 + (SELECT count(*) FROM documents) * 1.0 / df), 6) AS tfidf
             |FROM tf JOIN dfx USING (token)
             |ORDER BY tfidf DESC, doc_id, token
             |LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // q42 — sliding-window document chunking (X4; the RAG/embedding shape):
    // 100-token windows advancing by 80 (20-token overlap).
    Q("q42_chunking",
      (s, dir) => {
        TextStats.chunk(t(s, dir, "documents"), "doc_id", "text",
            chunkTokens = 100, overlap = 20)
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH t AS (SELECT doc_id, $dTok AS tk FROM documents),
             |c AS (SELECT doc_id, len(tk) AS n, tk,
             |        CAST(unnest(range(0, CAST(1 + greatest(ceil((len(tk) - 100) * 1.0 / 80), 0) AS BIGINT))) AS INTEGER) AS chunk_idx
             |      FROM t WHERE len(tk) > 0)
             |SELECT doc_id, chunk_idx,
             |  array_to_string(tk[chunk_idx * 80 + 1 : chunk_idx * 80 + 100], ' ') AS chunk_text,
             |  CAST(least(n - chunk_idx * 80, 100) AS INTEGER) AS n_tokens
             |FROM c
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q43 — token-budget bin bucketing (X4; pretraining batch
    // construction): docs assigned to 5000-token bins by running total in
    // doc_id order (prefix-sum bucketing — see TextStats.packSequences).
    Q("q43_sequence_packing",
      (s, dir) => {
        TextStats.packSequences(t(s, dir, "documents"), "doc_id", "text",
            maxTokens = 5000L)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_tokens,
             |  CAST(ceil(cum * 1.0 / 5000) AS BIGINT) - 1 AS bin
             |FROM (
             |  SELECT doc_id, n_tokens,
             |    sum(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM (SELECT doc_id, CAST(len($dTok) AS BIGINT) AS n_tokens FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q54 — PII scrubbing (X4): URL/email/IPv4 redaction. The fixture text
    // carries no PII, so each document gets a synthetic contact line appended
    // (identically on both engines) — the scrub provably rewrites every row.
    Q("q54_pii_scrub",
      (s, dir) => {
        val injected = concat(col("text"),
          lit(" reach me at john.doe+spam@mail.example.org or https://example.org/u?id=7 (host 10.0.0.1)"))
        t(s, dir, "documents")
          .select(col("doc_id"), TextStats.scrubPii(injected).as("clean_text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(
             |        text || ' reach me at john.doe+spam@mail.example.org or https://example.org/u?id=7 (host 10.0.0.1)',
             |        'https?://\S+', '<URL>', 'g'),
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q55 — repetition quality stats (X4, the Gopher boilerplate rule):
    // per-document total/top bigram counts and top-bigram fraction.
    Q("q55_repetition",
      (s, dir) => {
        TextStats.repetitionStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
          .orderBy("doc_id")
      },
      Some(s"""WITH g AS (
             |  SELECT doc_id,
             |    unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS gram
             |  FROM (SELECT doc_id, $dTok AS tk FROM documents)),
             |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
             |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             |  CAST(max(c) AS BIGINT) AS top_count,
             |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac
             |FROM c
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q56 — Unicode NFC normalization (§2.8 native Expression + X4 cleaning):
    // graft's codegen'd nfc_normalize against DuckDB's built-in. The fixture
    // text is ASCII (already NFC), so a DECOMPOSED suffix — "café" with
    // combining acute U+0301 and "Å" as A + combining ring U+030A — is
    // appended identically on both engines: normalization provably composes
    // it (2 codepoints shorter) and the normalized strings must byte-match.
    Q("q56_nfc_normalize",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        // decomposed on purpose: "cafe" + combining acute U+0301 and "A" +
        // combining ring U+030A (escapes keep the source ASCII) — byte-
        // identical to the oracle's chr(769)/chr(778) suffix
        val raw = concat(col("text"), lit(" cafe\u0301 A\u030A"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            length(raw).cast("int").as("n_raw"),
            length(graft.functions.GraftFunctions.nfcNormalize(raw)).cast("int").as("n_nfc"),
            graft.functions.GraftFunctions.nfcNormalize(raw).as("nfc_text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(length(text || ' cafe' || chr(769) || ' A' || chr(778)) AS INTEGER) AS n_raw,
             |  CAST(length(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778))) AS INTEGER) AS n_nfc,
             |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)) AS nfc_text
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q57 — corpus-quantile quality filtering (X4): keep documents at or
    // above the corpus median quality score. The threshold is computed
    // IN-PLAN (exact percentile aggregate → one-row broadcast cross join),
    // not via a driver-side collect-then-filter — the scalar-threshold
    // pattern that keeps a 100 TB filter a single pipeline.
    Q("q57_quality_filter",
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        val thr = scored.agg(expr("percentile(quality, 0.5)").as("__thr"))
        scored.crossJoin(broadcast(thr))
          .filter(col("quality") >= col("__thr"))
          .select("doc_id", "quality")
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (SELECT doc_id, $dQuality AS quality FROM documents)
             |SELECT doc_id, quality FROM scored
             |WHERE quality >= (SELECT quantile_cont(quality, 0.5) FROM scored)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q58 — line-level exact dedup (X1b, the C4 boilerplate pass): every
    // repeated line keeps only its first (id, position) occurrence. The
    // fixture is single-line, so two boilerplate lines are appended to
    // EVERY document (identically on both engines): only doc_id 0 keeps
    // them, every other document provably loses exactly those two lines.
    Q("q58_line_dedup",
      (s, dir) => {
        val injected = t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"),
              lit("\nfollow us on example social media\ncopyright example corp"))
              .as("text"))
        Dedup.dedupLines(injected, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text || chr(10) || 'follow us on example social media'
             |           || chr(10) || 'copyright example corp' AS t
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, unnest(range(len(parts))) AS pos, unnest(parts) AS ln
             |  FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d)),
             |kept AS (
             |  SELECT doc_id, pos, ln FROM (
             |    SELECT *, row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn
             |    FROM lines)
             |  WHERE rn = 1 OR trim(ln) = '')
             |SELECT d.doc_id, coalesce(k.t, '') AS clean_text
             |FROM documents d LEFT JOIN (
             |  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS t
             |  FROM kept GROUP BY doc_id) k USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q51 — benchmark decontamination (X2): training docs that near-
    // duplicate an eval-suite doc. The "benchmark" is the doc_id % 7 == 0
    // slice of the corpus; hits are (train, benchmark) pairs at word-3-gram
    // Jaccard ≥ 0.8 across the two tables (bipartite AllPairs prefix join —
    // Dedup.jaccardContamination). Same-id pairs excluded here because this
    // demo draws the benchmark FROM the corpus.
    Q("q51_decontamination",
      (s, dir) => {
        // benchmark side = a slice of the corpus, so BOTH sides of the
        // bipartite join derive from the one cached shingle-set artifact
        val sets = docSets(s, dir)
        Dedup.jaccardContaminationOnSets(
            sets.withColumnRenamed("doc_id", "__id_l"),
            sets.filter(col("doc_id") % 7 === 0).withColumnRenamed("doc_id", "__id_r"),
            threshold = 0.8)
          .filter(col("id_l") =!= col("id_r"))
          .orderBy("id_l", "id_r")
      },
      Some(s"""WITH sh AS (
             |  SELECT doc_id,
             |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS s
             |  FROM (SELECT doc_id, $dTok AS tk FROM documents))
             |SELECT a.doc_id AS id_l, b.doc_id AS id_r,
             |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
             |FROM sh a JOIN sh b ON b.doc_id % 7 = 0 AND a.doc_id <> b.doc_id
             |WHERE len(a.s) > 0 AND len(b.s) > 0
             |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
             |ORDER BY id_l, id_r""".stripMargin)),

    // ------------------------------------------------------------------
    // q38 — IVF top-k (X3 scale path) at its provable-exactness point:
    // nProbe = nCentroids probes every cell, which provably degenerates to
    // brute force (every corpus vector is scored for every query) — so the
    // full IVF machinery (map-only codebook argmax assignment, probed-cell
    // join, bounded per-key top-k) runs against q30's exact oracle. The
    // approximate operating point (nProbe < nCentroids, recall < 1 by
    // design) is pinned by SimilaritySpec's partial-probe recall check.
    Q("q38_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 5)
              .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
            "query_id", "qvec", k = 10, nCentroids = 16, nProbe = 16)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
             |s AS (SELECT query_id, neighbor_id,
             |        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
             |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
             |SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
             |WHERE rn <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q60 — reproducible hash sampling (§2.9 / Sampling): a 25% corpus
    // sample as a pure md5-threshold filter on doc_id. Map-only: the filter
    // fuses into the parquet scan, zero shuffle at any SF, and the DuckDB
    // oracle replays the IDENTICAL per-row decision — the reproducibility
    // claim is the thing being checked.
    Q("q60_hash_sample",
      (s, dir) =>
        Sampling.sampleByHash(t(s, dir, "documents"), col("doc_id"),
            rate = 0.25, seed = "s60")
          .select("doc_id", "source", "n_chars")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source, n_chars FROM documents
             |WHERE ${dKeep("s60", 0.25)}
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q61 — train/val/test split assignment (§2.9): every document gets a
    // permanent split from its hash bucket (80/10/10). Map-only; a doc's
    // split is independent of corpus size and machine layout, so growing
    // the corpus never reassigns existing eval docs. The oracle rebuilds
    // the cumulative CASE from the same hexThreshold cutoffs.
    Q("q61_split_assign",
      (s, dir) =>
        Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s61")
          .select("doc_id", "split")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  CASE WHEN ${dKeep("s61", 0.8)} THEN 'train'
             |       WHEN ${dKeep("s61", 0.9)} THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q62 — weighted corpus mixing (§2.9): each source kept at its own
    // rate (the training-mixture shape: web at 10%, reference text at
    // 100%, ...). The bounded rate map compiles to a literal CASE chain
    // inside whole-stage codegen — no join, no shuffle; the oracle CASE is
    // generated from the SAME Scala map so the two can't drift.
    Q("q62_corpus_mix",
      (s, dir) =>
        Sampling.mixBySource(t(s, dir, "documents"), col("source"),
            col("doc_id"), mixRates, defaultRate = 0.0, seed = "s62")
          .select("doc_id", "source")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM documents
             |WHERE $mixCaseSql
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q63 — substring-level duplication stats (X2e, the Lee et al. ACL'22
    // doc-frequency relaxation): per document, how many of its distinct
    // word-3-grams recur in other documents. One more consumer of the
    // shared shingle-set artifact; keyed shuffles only (gram df is an
    // aggregate, so the gram join is m×1, never m²).
    Q("q63_dup_spans",
      (s, dir) =>
        Dedup.duplicatedSpanStats(docSets(s, dir), "doc_id")
          .orderBy("doc_id"),
      Some(s"""WITH sh AS (
             |  SELECT doc_id,
             |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS s
             |  FROM (SELECT doc_id, $dTok AS tk FROM documents)),
             |g AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE len(s) > 0),
             |d AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
             |SELECT g.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
             |  round(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_fraction
             |FROM g JOIN d USING (gram)
             |GROUP BY g.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q65 — per-label embedding centroids via the typed VectorSumLong
    // aggregator (§2.8 + X3): ONE dim-length buffer per (partition, label)
    // shuffles — map-side combine collapses the member vectors before the
    // exchange, the property that makes a 100 TB centroid job feasible.
    // Components are fixed-point-quantized (floor(x·10⁶)) so the sums are
    // exact longs: order-independent and engine-portable, the Ops.sumDec
    // rule extended to vectors (cross-engine float SUM order would
    // otherwise make this oracle-uncheckable).
    Q("q65_label_centroids",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val dim = 64 // fixture embedding dimension (TESTDATA.md)
        emb
          .select(col("label"),
            transform(col("embedding"),
              e => floor(e.cast("double") * lit(1000000.0))).as("qv"))
          .groupBy("label")
          .agg(
            udaf(new Aggregators.VectorSumLong(dim)).apply(col("qv")).as("sums"),
            count(lit(1)).as("n"))
          .select(col("label"), posexplode(col("sums")).as(Seq("pos", "sq")), col("n"))
          .withColumn("dim", (col("pos") + 1).cast("int"))
          .select("label", "dim", "sq", "n")
          .orderBy("label", "dim")
      },
      Some("""SELECT label, CAST(pos AS INTEGER) AS dim,
             |  CAST(sum(q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
             |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
             |      FROM embeddings)
             |GROUP BY label, pos
             |ORDER BY label, dim""".stripMargin)),

    // ------------------------------------------------------------------
    // q66 — deterministic per-group reservoir sample (§2.9): exactly 5
    // docs per source, chosen by hash order — the "inspect a fixed sample
    // of every corpus slice" shape. One shuffle on the group key; retry-
    // safe because the order is a pure function of the doc id.
    Q("q66_group_sample",
      (s, dir) =>
        Sampling.sampleKPerGroup(t(s, dir, "documents"), Seq("source"),
            col("doc_id"), k = 5, seed = "s66")
          .select("doc_id", "source")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5('s66:' || CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rn
             |  FROM documents)
             |WHERE rn <= 5
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q72 — semantic dedup (SemDeDup, X2/X3 bridge): embedding-level near-
    // duplicate removal — the dedup layer that catches paraphrases shingle
    // near-dedup can't see. Run at the provable parameter point
    // nCentroids = 1 (one cell ⇒ candidates are ALL pairs ⇒ result equals
    // exact threshold dedup), so the deterministic lowest-id-survives keep
    // rule is fully under oracle; SimilaritySpec pins the clustered-path
    // invariants a SQL oracle can't express. Same τ as q31, whose pair list
    // is exactly what this dedup collapses.
    Q("q72_semantic_dedup",
      (s, dir) => {
        Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.45, nCentroids = 1)
          .select("vec_id", "label")
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT a.vec_id, a.label FROM e a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM e b WHERE b.vec_id < a.vec_id
             |    AND round(list_dot_product(a.v, b.v)
             |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             |        >= 0.45)
             |ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q73 — incremental cross-batch dedup (X1 incremental face): a "daily
    // batch" (every 3rd doc) appended against a "historical corpus" (every
    // 2nd doc), keyed on text. The Bloom prefilter (native codegen'd
    // bloom_might_contain over xxhash64(text)) passes definitely-new rows
    // with zero join work; only might-contain rows pay the exact null-safe
    // anti-join, so the result is EXACT at any fpp — which is why a plain
    // SQL NOT EXISTS can be its oracle.
    Q("q73_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalDedup(
            history = docs.filter(pmod(col("doc_id"), lit(2)) === 0),
            batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0),
            keys = Seq("text"), expectedItems = 1000000)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT b.doc_id, b.source FROM documents b
             |WHERE b.doc_id % 3 = 0 AND NOT EXISTS (
             |  SELECT 1 FROM documents h
             |  WHERE h.doc_id % 2 = 0 AND h.text IS NOT DISTINCT FROM b.text)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q74 — int8 embedding quantization (X3 compression path): per-vector
    // symmetric scales, map-only, 4× less shuffle/disk for every downstream
    // ANN stage. The oracle recomputes the scale AND the sum of the full
    // quantized array in SQL (q_sum pins every element's rounding); the
    // reconstruction bound |x − q·scale| ≤ scale/2 is checked Spark-side
    // and asserted TRUE in the oracle (q53's precedent for sides a portable
    // oracle cannot express).
    Q("q74_quantization",
      (s, dir) => {
        val q = Quantize.quantizeInt8(t(s, dir, "embeddings"), "embedding")
        // derived columns BEFORE the projection that aliases the rounded
        // scale back to "scale": a col("scale") inside an HOF lambda in the
        // same select would capture the LATERAL rounded alias, silently
        // dequantizing against the display value
        q.withColumn("q_sum",
            aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")))
          .withColumn("within_bound",
            aggregate(
              zip_with(col("embedding"),
                Quantize.dequantizeInt8(col("qvec"), col("scale")),
                (a, b) => abs(a.cast("double") - b)),
              lit(0.0), (acc, e) => greatest(acc, e))
              <= col("scale") / 2 + lit(1e-12))
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            col("q_sum"), col("within_bound"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e),
             |q AS (SELECT vec_id, scale,
             |        CASE WHEN scale = 0 THEN 0
             |             ELSE list_sum(list_transform(v, x -> round(x / scale))) END AS q_sum
             |      FROM s)
             |SELECT vec_id, round(scale, 6) AS scale, CAST(q_sum AS BIGINT) AS q_sum,
             |  TRUE AS within_bound
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q78 — perplexity-proxy quality scoring (X4, the CCNet/Gopher filter):
    // mean log2 token probability under the corpus's own unigram LM. Two
    // corpus-bounded aggregation passes; the token total rides in-plan (no
    // driver count); per-token log-probs round to 6 decimals and the mean
    // goes through an exact decimal sum, which is what lets two engines
    // agree bit-for-bit on a floating-point language-model score.
    Q("q78_unigram_logprob",
      (s, dir) => {
        graft.text.LanguageModel.unigramLogProb(
            t(s, dir, "documents"), "doc_id", col("text"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($dTok) AS tok FROM documents),
             |fr AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
             |tot AS (SELECT count(*) AS total FROM tk),
             |lp AS (SELECT doc_id,
             |         round(log2(CAST(cnt AS DOUBLE) / total), 6) AS lp
             |       FROM tk JOIN fr USING (tok) CROSS JOIN tot)
             |SELECT doc_id, count(*) AS n_tokens,
             |  round(CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             |    AS mean_log2_prob
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q80 — weighted sampling without replacement (X6, Efraimidis-Spirakis):
    // 50 documents drawn with inclusion odds scaling with n_chars (the
    // importance-weighted corpus-selection shape: sample by length, quality,
    // or cluster mass). Map-only priority + TakeOrderedAndProject; the
    // oracle replays the identical hash→uniform→ln(u)/w arithmetic, so both
    // engines select the same 50 documents.
    Q("q80_weighted_sample",
      (s, dir) =>
        Sampling.weightedSampleK(t(s, dir, "documents"), col("doc_id"),
            col("n_chars"), k = 50, seed = "s80")
          .select("doc_id", "n_chars")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars FROM (
             |  SELECT doc_id, n_chars,
             |    ln((('0x' || substr(md5('s80:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
             |       / 4294967296.0) / n_chars AS pri
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
             |  ORDER BY pri DESC, CAST(doc_id AS VARCHAR) LIMIT 50)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q81 — temperature rebalancing (X6, the mC4/XLM-R multilingual mixing
    // rule): downsample each language toward share ∝ n^α (α = 0.5), smallest
    // language kept whole. One groups-sized aggregation broadcast back +
    // a map-only hash filter; the oracle recomputes the per-language rates
    // and replays the same md5 threshold.
    Q("q81_temperature_rebalance",
      (s, dir) =>
        Sampling.rebalanceByTemperature(t(s, dir, "documents"), col("lang"),
            col("doc_id"), alpha = 0.5, seed = "s81")
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
          .orderBy("lang"),
      Some("""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |r AS (SELECT lang,
             |        CAST(floor(power(CAST(n AS DOUBLE) / (SELECT min(n) FROM n), -0.5)
             |             * 4294967296.0) AS BIGINT) AS keep_max
             |      FROM n)
             |SELECT lang, count(*) AS n_kept
             |FROM documents JOIN r USING (lang)
             |WHERE ('0x' || substr(md5('s81:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
             |      < keep_max
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q82 — kNN majority-vote classification (X3 application): each probe
    // embedding takes the most frequent label among its 10 nearest corpus
    // rows by cosine (weak-label transfer). Probe set broadcast, corpus
    // never shuffled, ties broken (votes desc, label asc) identically on
    // both engines.
    Q("q82_knn_classify",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnClassify(
            emb, "vec_id", "embedding", "label",
            emb.filter(col("vec_id") < 25)
              .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
            "query_id", "qvec", k = 10)
          .orderBy("query_id")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 25),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label FROM embeddings),
             |s AS (SELECT query_id, neighbor_id, label,
             |        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
             |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
             |nn AS (SELECT query_id, label FROM (
             |         SELECT query_id, label,
             |           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
             |         FROM s) WHERE rn <= 10),
             |v AS (SELECT query_id, CAST(label AS BIGINT) AS label, count(*) AS votes
             |      FROM nn GROUP BY 1, 2)
             |SELECT query_id, label, votes FROM (
             |  SELECT query_id, label, votes,
             |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
             |  FROM v) WHERE rn = 1
             |ORDER BY query_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q83 — data selection under a token budget (X4 application, the
    // quality-ranked curation rule): rank by quality desc (ties → doc_id)
    // and keep the maximal prefix with cumulative tokens ≤ 10000. One range
    // shuffle + the two-phase prefix sum — no single-task global window.
    Q("q83_token_budget_select",
      (s, dir) =>
        TextStats.selectUnderTokenBudget(t(s, dir, "documents"), "doc_id",
            col("text"), TextStats.qualityScore(col("text")), budget = 10000L)
          .orderBy("doc_id"),
      Some(s"""WITH scored AS (SELECT doc_id, len($dTok) AS n_tokens, $dQuality AS q FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |        CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM scored)
             |SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 10000
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q85 — per-language token-count outliers (X8 anomaly gate): flag
    // documents whose length is > 2σ from their language's mean, decided
    // through exact integer arithmetic ((n·x−S)² > k²(n·Q−S²)) so the
    // boundary is bit-identical across engines — no float stddev anywhere.
    // One aggregation + broadcast-back + map-only compare.
    Q("q85_token_outliers",
      (s, dir) =>
        graft.ops.Ops.flagOutliers(
            t(s, dir, "documents").select(col("doc_id"), col("lang"),
              TextStats.tokenCount(col("text")).cast("long").as("n_tokens")),
            Seq("lang"), col("n_tokens"), k = 2)
          .select("doc_id", "lang", "n_tokens", "is_outlier")
          .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, lang, CAST(len($dTok) AS BIGINT) AS n_tokens FROM documents),
             |st AS (SELECT lang, CAST(count(n_tokens) AS HUGEINT) AS n,
             |         CAST(sum(n_tokens) AS HUGEINT) AS s,
             |         CAST(sum(n_tokens * n_tokens) AS HUGEINT) AS q2
             |       FROM tk GROUP BY lang)
             |SELECT doc_id, lang, n_tokens,
             |  (n * n_tokens - s) * (n * n_tokens - s) > 4 * (n * q2 - s * s) AS is_outlier
             |FROM tk LEFT JOIN st USING (lang)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q88 — per-language quality deciles (X4 curriculum binning): ntile(10)
    // over (quality, doc_id) within each language — the bucket label
    // curriculum schedules and stratified evals key on. Deterministic
    // because the order is total (doc_id tie-break). The per-language
    // window is one task per language: at 100 TB swap ntile for bucketing
    // against approx-quantile thresholds (q57's corpus-quantile pattern);
    // at driver scale the exact form IS the oracle-checkable contract.
    Q("q88_quality_deciles",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextStats.qualityScore(col("text")).as("quality"))
          .withColumn("decile", ntile(10).over(
            Window.partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))))
          .select("doc_id", "lang", "decile")
          .orderBy("doc_id"),
      Some(s"""WITH scored AS (SELECT doc_id, lang, $dQuality AS quality FROM documents)
             |SELECT doc_id, lang,
             |  ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS decile
             |FROM scored ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q90 — winsorization (X8, the robust tail clamp): document lengths
    // clipped to the corpus [p05, p95] — caps pathological outliers without
    // dropping rows. One exact-percentile aggregation broadcast back + a
    // map-only clip; `percentile` ≡ DuckDB `quantile_cont` (interpolated).
    Q("q90_winsorize",
      (s, dir) =>
        graft.ops.Ops.winsorize(
            t(s, dir, "documents").select("doc_id", "n_chars"),
            col("n_chars"), 0.05, 0.95)
          .orderBy("doc_id"),
      Some("""WITH thr AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
             |                    quantile_cont(n_chars, 0.95) AS hi FROM documents)
             |SELECT doc_id, n_chars,
             |  least(greatest(CAST(n_chars AS DOUBLE), lo), hi) AS clipped
             |FROM documents, thr
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q97 — IVF with spherical k-means refinement (X3 + kMeansRefine), at
    // q38's provable-exactness point: nProbe = nCentroids probes every cell,
    // so the result equals brute force REGARDLESS of what the refine loop
    // did to the codebook — which puts the full Lloyd's-iteration machinery
    // (map-only assignment, (cell,dim)-keyed exact-decimal component sums,
    // driver-side codebook rebuild) under the exact oracle end to end. The
    // recall-improving face of refinement at nProbe < nCentroids stays
    // spec-pinned (SimilaritySpec), where approximation is measurable.
    Q("q97_ann_ivf_refined",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 6)
              .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
            "query_id", "qvec", k = 8, nCentroids = 8, nProbe = 8,
            kMeansIterations = 3)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 6),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
             |s AS (SELECT query_id, neighbor_id,
             |        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
             |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
             |SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
             |WHERE rn <= 8
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q98 — REAL image header decode under oracle (X5): every tenth doc_id
    // mints a valid 24-bit BMP whose true dimensions are a pure function of
    // the id (Multimodal.syntheticBmp), and decodePartitions runs the real
    // javax.imageio header read over the binary payloads — so the oracle
    // can verify the actual decoder output arithmetically, closing the gap
    // where q33 could only pin the deterministic stub. Payload bytes are
    // minted executor-side from the id (never shuffled, never collected);
    // dims stay ≤64×48 so the fixture-scale payload volume is trivial.
    Q("q98_image_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id")).as[Long]
          .map(id => (id,
            Multimodal.syntheticBmp((id % 37 + 1).toInt, (id % 23 + 1).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.decodePartitions(media, "doc_id", "payload",
            Multimodal.imageDecode)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(doc_id % 37 + 1 AS INTEGER) AS width,
             |  CAST(doc_id % 23 + 1 AS INTEGER) AS height
             |FROM documents WHERE doc_id % 10 = 0
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q99 — REAL audio header decode under oracle (X5, q98's audio twin):
    // synthetic PCM WAV containers with id-derived sample rate / channels /
    // frame count, decoded by the real javax.sound.sampled path. Emits the
    // exactly-representable header fields; duration_sec (a float division)
    // stays spec-pinned in MultimodalSpec, where tolerance comparison is
    // possible.
    Q("q99_audio_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 1)
          .select(col("doc_id")).as[Long]
          // channels derive from doc_id / 10: the filter fixes doc_id mod 10
          // to 1 (odd), so doc_id % 2 would be CONSTANT 2 over the selected
          // rows — the q110 degenerate-modulus trap (2 divides 10) — and a
          // decoder hard-coding channels=2 would pass the oracle
          .map(id => (id, Multimodal.syntheticWav(
            8000 * (id % 3 + 1).toInt, (id / 10 % 2 + 1).toInt, 16, (id % 100).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.audioDecodePartitions(media, "doc_id", "payload")
          .select("doc_id", "encoding", "sample_rate", "channels",
            "bits_per_sample", "n_frames")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'PCM_SIGNED' AS encoding,
             |  CAST(8000 * (doc_id % 3 + 1) AS DOUBLE) AS sample_rate,
             |  CAST((doc_id // 10) % 2 + 1 AS INTEGER) AS channels,
             |  CAST(16 AS INTEGER) AS bits_per_sample,
             |  CAST(doc_id % 100 AS BIGINT) AS n_frames
             |FROM documents WHERE doc_id % 10 = 1
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q110 — REAL multi-frame container decode under oracle (X5, the video
    // face: frame counting over animated containers): every fiftieth doc_id
    // mints an animated GIF with an id-derived frame count (the JDK ships a
    // GIF writer), and frameCountPartitions walks the real javax.imageio
    // frame chain. The sparse filter keeps the (encode-heavy) fixture mint
    // cheap; the decode itself is O(container bytes) per clip.
    Q("q110_frame_count",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 50 === 2)
          .select(col("doc_id")).as[Long]
          // frames derive from doc_id / 50: the filter fixes doc_id mod 50,
          // so any modulus of doc_id itself would be CONSTANT over the
          // selected rows and the oracle would never see a second frame count
          .map(id => (id, Multimodal.syntheticGif((id / 50 % 5 + 1).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.frameCountPartitions(media, "doc_id", "payload")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST((doc_id // 50) % 5 + 1 AS INTEGER) AS n_frames
             |FROM documents WHERE doc_id % 50 = 2
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q100 — BM25 keyword retrieval (X4's ranking face): top-10 documents
    // for a three-term query. Per-term contributions round to 6 then sum in
    // exact DECIMAL (the q78 log-sum determinism pattern) so the score is
    // partitioning-independent and oracle-portable; top-k plans
    // TakeOrderedAndProject (bounded heaps), never a global sort. The
    // oracle parenthesizes identically — float multiply/divide is not
    // associative, so the SQL mirrors the plan's (idf · (tf·(k1+1)/denom))
    // grouping exactly.
    Q("q100_bm25_topk",
      (s, dir) =>
        graft.text.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            col("text"), Seq("spark", "hash", "join"), k = 10)
          .orderBy("rank"),
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st)
             |SELECT doc_id, score, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT doc_id,
             |    round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |WHERE rn <= 10
             |ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q101 — exact 13-gram collision decontamination (X2's strict face, the
    // GPT-3/PaLM rule): every seventh document plays the benchmark suite,
    // the rest are the training corpus; a training doc is flagged with its
    // distinct leaked-gram count iff it shares any 13-gram with the
    // benchmark. One keyed fingerprint join — no similarity verify, no
    // cross product; the benchmark gram set broadcasts. Oracle rebuilds the
    // grams as strings (hashes are engine-internal; collision-free at
    // fixture scale, same contract as q27's shingle oracle).
    Q("q101_ngram_decontamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.dedup.Dedup.ngramCollisionContamination(
            docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 13)
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |ng AS (SELECT DISTINCT doc_id,
             |         unnest([array_to_string(tk[i:i+12], ' ') for i in range(1, len(tk) - 11)]) AS g
             |       FROM tk),
             |bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 7 = 0)
             |SELECT doc_id, count(*) AS n_hit_grams FROM ng
             |WHERE doc_id % 7 <> 0 AND g IN (SELECT g FROM bench)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q105 — interpolated bigram LM scoring (X4, one Markov order above
    // q78): Jelinek-Mercer p(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·c(w2)/total,
    // self-referential, mean log2 per document. Catches shuffled-word
    // garbling that the order-blind unigram filter scores identically
    // (spec-pinned). The (1−λ) literal is interpolated from the SAME Scala
    // double the operator uses (1−0.7 ≠ the 0.3 literal in IEEE), and the
    // per-transition log-probs round-then-decimal-sum as everywhere else.
    Q("q105_bigram_logprob",
      (s, dir) =>
        graft.text.LanguageModel.bigramLogProb(
            t(s, dir, "documents"), "doc_id", col("text"))
          .orderBy("doc_id"),
      Some(s"""WITH $dBigramLpCtes
             |SELECT doc_id, count(*) AS n_transitions,
             |  round(CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             |    AS mean_log2_prob
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q106 — per-source token-budget curation (X15's mixture-control face):
    // an independent 2000-token budget per source, best-quality-first —
    // the quota rule a single global budget can't express (one high-quality
    // source would eat it all). ONE keyed window, partitioned by source:
    // per-group running sums parallelize across groups, no global window.
    // The oracle casts its windowed sum to BIGINT (DuckDB promotes to
    // HUGEINT — the round-4 q83 lesson).
    Q("q106_per_source_budget",
      (s, dir) =>
        TextStats.selectUnderTokenBudgetPerGroup(t(s, dir, "documents"),
            "doc_id", "source", col("text"),
            TextStats.qualityScore(col("text")), budget = 2000L)
          .orderBy("source", "doc_id"),
      Some(s"""WITH scored AS (SELECT source, doc_id, len($dTok) AS n_tokens,
             |                  $dQuality AS q FROM documents),
             |c AS (SELECT source, doc_id, n_tokens,
             |        CAST(sum(n_tokens) OVER (PARTITION BY source
             |          ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |          AS cum_tokens
             |      FROM scored)
             |SELECT source, doc_id, n_tokens, cum_tokens FROM c
             |WHERE cum_tokens <= 2000
             |ORDER BY source, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q107 — dedup-key canonicalization (X1's preprocessing face): case,
    // punctuation and whitespace variants collapse to one canonical form
    // before fingerprinting. The fixture text is already canonical, so the
    // query re-cases and decorates it first — the oracle replays the same
    // decoration and the same two-regex chain (patterns restricted to
    // Java-regex ∩ RE2 syntax, the scrubPii portability contract).
    Q("q107_normalize_dedup_key",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextStats.normalizeForDedup(
              concat(upper(col("text")), lit(", TAIL! x_9"))).as("canon"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  ${dCanonOf("upper(text) || ', TAIL! x_9'")} AS canon
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q111 — REAL subword (BPE) tokenization under oracle (X4/X15's
    // fidelity gap closed): the codegen'd BpeEncode expression merges a
    // monotone rank table, and monotonicity makes the encode provably equal
    // to applying the merges as ordered left-to-right replace() passes — so
    // the oracle replays the FULL token sequence (not just counts) with a
    // chained replace into private-use-area placeholder chars, then expands
    // them back. Three counts ride along: the char-split provable point
    // (empty table ⇒ non-whitespace char count), the real BPE count, and
    // the whitespace proxy it replaces.
    Q("q111_bpe_tokens",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextStats.bpeTokenCount(col("text"), Nil).as("n_char_tokens"),
            TextStats.bpeTokenCount(col("text"), bpeMerges).as("n_bpe_tokens"),
            TextStats.tokenCount(col("text")).as("n_ws_tokens"),
            array_join(TextStats.bpeTokens(col("text"), bpeMerges), "|")
              .as("bpe_joined"))
          .orderBy("doc_id")
      },
      Some(s"""WITH stripped AS (SELECT doc_id, text,
             |    coalesce(regexp_replace($dBpeChain, '\\s', '', 'g'), '') AS x
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(coalesce(len(regexp_replace(text, '\\s', '', 'g')), 0)
             |    AS INTEGER) AS n_char_tokens,
             |  CAST(len(x) AS INTEGER) AS n_bpe_tokens,
             |  CAST(coalesce(len($dTok), 0) AS INTEGER) AS n_ws_tokens,
             |  $dBpeJoined AS bpe_joined
             |FROM stripped
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q112 — token-budget selection spending REAL BPE tokens (the X15
    // rewiring the whitespace proxy mis-spent 3–5× on web text): identical
    // prefix-selection contract to q83, but the per-doc cost column is
    // bpeTokenCount through selectUnderTokenBudgetByCount. Same two-phase
    // prefix-sum plan — the tokenizer only changes the map stage.
    Q("q112_bpe_budget_select",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        TextStats.selectUnderTokenBudgetByCount(t(s, dir, "documents"),
            "doc_id", TextStats.bpeTokenCount(col("text"), bpeMerges),
            TextStats.qualityScore(col("text")), budget = 30000L)
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (SELECT doc_id,
             |    CAST($dBpeCount AS BIGINT) AS n_tokens,
             |    $dQuality AS q FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |        CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM scored)
             |SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 30000
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q126 — BPE TRAINING's core aggregation under oracle (the corpus side
    // of the tokenizer loop; BpeTrain.train iterates exactly this count on
    // the compressed word table): occurrence-weighted adjacent-character
    // pair counts at merge iteration 0, top 10. Later iterations count
    // pairs of LEARNED symbols — data-dependent state no static SQL can
    // express — so the iterative loop is spec-pinned (BpeTrainSpec,
    // hand-computed merges) while the primitive it repeats is
    // oracle-pinned here. Top-k plans TakeOrderedAndProject.
    Q("q126_bpe_pair_counts",
      (s, dir) =>
        graft.text.BpeTrain.pairCounts(t(s, dir, "documents"), col("text"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(10),
      Some("""WITH words AS (
             |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
             |    x -> len(x) > 0)) AS w
             |  FROM documents),
             |pairs AS (
             |  SELECT unnest([substr(w, i, 1) || ' ' || substr(w, i + 1, 1)
             |    for i in range(1, len(w))]) AS pair
             |  FROM words)
             |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
             |FROM pairs GROUP BY pair
             |ORDER BY cnt DESC, pair LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q127 — binary-embedding ANN (X29): sign-bit quantization packs each
    // 64-dim vector into ONE 64-bit word (32× less shuffle/disk than
    // float32), and candidate retrieval is popcount-XOR Hamming distance —
    // each sign bit is a fixed-hyperplane LSH bit, so Hamming approximates
    // angular distance. The oracle recomputes the distance straight from
    // the float signs (count of dims whose signs disagree with the query
    // vector), so the pack→XOR→popcount pipeline must agree bit-for-bit
    // with the definition. Map-only + broadcast 1-row query + bounded
    // top-k; the corpus never shuffles.
    Q("q127_binary_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            Quantize.binarySign(col("embedding"), 64).as("code"))
        val q = emb.filter(col("vec_id") === 0).select(col("code").as("qcode"))
        Quantize.hammingTopK(emb, "vec_id", "code", q, "qcode", k = 20)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  CAST(len([i for i in range(1, 65)
             |    if (embedding[i] >= 0) != (qe[i] >= 0)]) AS INTEGER) AS hamming
             |FROM embeddings, q
             |ORDER BY hamming, vec_id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q128 — the LLM-curation pipeline END TO END (the q59 counterpart for
    // the extension surface): canonicalize → exact dedup on the canonical
    // key → quality-score + REAL BPE token counts → spend a global token
    // budget — four stages through the Pipeline DAG runner with the dedup
    // boundary MATERIALIZED to parquet (the recovery point a multi-hour
    // 100 TB curation run wants exactly there, after the expensive
    // dedup shuffle). The oracle composes the same four stages in SQL, so
    // stage wiring, the materialization round-trip, and every operator's
    // semantics are under one hash.
    Q("q128_llm_pipeline_e2e",
      (s, dir) => {
        import graft.pipeline.{Pipeline, Stage}
        val ckpt = workDir("q128").toString
        val pipe = new Pipeline(Seq(
          Stage("canon", Nil, _ => t(s, dir, "documents")
            .select(col("doc_id"), col("text"),
              TextStats.normalizeForDedup(col("text")).as("canon"))),
          Stage("dedup", Seq("canon"), deps =>
            Dedup.exactKeepFirst(deps("canon"), Seq("canon"), col("doc_id"))),
          Stage("scored", Seq("dedup"), deps => deps("dedup")
            .select(col("doc_id"),
              TextStats.bpeTokenCount(col("text"), bpeMerges).as("n_bpe"),
              TextStats.qualityScore(col("text")).as("q"))),
          Stage("budget", Seq("scored"), deps =>
            TextStats.selectUnderTokenBudgetByCount(deps("scored"), "doc_id",
                col("n_bpe"), col("q"), budget = 20000L)
              .orderBy("doc_id"))))
        pipe.run(s, Some(ckpt), materialize = Set("dedup"))("budget")
      },
      Some(s"""WITH canon AS (
             |  SELECT doc_id, text, ${dCanonOf("text")} AS canon
             |  FROM documents),
             |kept AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon),
             |scored AS (
             |  SELECT c.doc_id,
             |    CAST($dBpeCount AS BIGINT) AS n_tokens,
             |    $dQuality AS q
             |  FROM canon c JOIN kept k USING (doc_id)),
             |cum AS (SELECT doc_id, n_tokens,
             |    CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM scored)
             |SELECT doc_id, n_tokens, cum_tokens FROM cum
             |WHERE cum_tokens <= 20000
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q129 — deterministic up-sampling at a fractional epoch factor (X30,
    // the other half of mixture control: q62/q81 only sample DOWN, but
    // high-value sources REPEAT in a training mix at factors like 2.5×).
    // Every doc emits ⌊2.5⌋ = 2 copies plus a third for the md5-selected
    // half of keys; the oracle replays the same hash cutoff and expands
    // copies with a lateral range — so both the per-key decision and the
    // copy multiset are under the hash. Map-only (explode fused into the
    // scan); no shuffle grows with the output.
    Q("q129_upsample",
      (s, dir) =>
        Sampling.upsampleByRate(
            t(s, dir, "documents").select(col("doc_id"), col("source")),
            col("doc_id"), rate = 2.5, seed = "s129")
          .orderBy("doc_id", "copy_idx"),
      Some(s"""WITH c AS (
             |  SELECT doc_id, source,
             |    2 + CASE WHEN ${dKeep("s129", 0.5)}
             |        THEN 1 ELSE 0 END AS n
             |  FROM documents)
             |SELECT doc_id, source, CAST(u AS BIGINT) AS copy_idx
             |FROM c, unnest(range(n)) AS t(u)
             |ORDER BY doc_id, copy_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q132 — PageRank link analysis (X32, Graph.pageRank): the part↔supplier
    // bipartite graph from lineitem (both directions, so no dangling nodes),
    // 3 power-method rounds at damping 0.85, top-20 nodes by rank. Ranks
    // are scaled integers and every step is integer arithmetic, so the
    // DuckDB oracle replays ALL iterations exactly — the determinism
    // contract (bit-identical under re-partitioning/retries/engines) is the
    // thing under test, not a float approximation.
    Q("q132_pagerank",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
            (col("l_suppkey") * 10 + 1).as("dst"))
          .unionAll(li.select((col("l_suppkey") * 10 + 1).as("src"),
            (col("l_partkey") * 10).as("dst")))
        graft.ops.Graph.pageRank(edges, iterations = 3)
          .orderBy(desc("pr"), col("id")).limit(20)
      },
      Some(s"""WITH e AS (
             |  SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst FROM lineitem
             |  UNION SELECT l_suppkey * 10 + 1, l_partkey * 10 FROM lineitem),
             |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
             |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
             |params AS (SELECT 1000000000000 // count(*) AS r_init,
             |  (1000000000000 * 15) // (100 * count(*)) AS base FROM n),
             |r0 AS (SELECT id, (SELECT r_init FROM params) AS pr FROM n),
             |$dPagerankIters
             |SELECT id, pr FROM r3 ORDER BY pr DESC, id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q134 — leakage-safe splitting (X33, Sampling.assignSplitByContent):
    // train/val/test assignment keyed on the canonicalized TEXT, so
    // duplicates co-locate in one split instead of leaking train text into
    // eval. Output: per-split doc and content-group counts, plus the
    // cross-split consistency bound (max distinct splits over any canonical
    // group — the oracle RECOMPUTES it; 1 is the leakage-safety theorem).
    Q("q134_leakage_safe_split",
      (s, dir) => {
        val assigned = Sampling.assignSplitByContent(
            t(s, dir, "documents"), col("text"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s134")
          .withColumn("canon", TextStats.normalizeForDedup(col("text")))
        val worst = assigned.groupBy("canon")
          .agg(countDistinct(col("split")).as("n_splits"))
          .agg(max(col("n_splits")).as("max_splits_per_group"))
        assigned.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("canon")).as("n_groups"))
          .crossJoin(broadcast(worst))
          .orderBy("split")
      },
      Some(s"""WITH a AS (
             |  SELECT doc_id, ${dCanonOf("text")} AS canon,
             |    CASE WHEN ${dKeepOf("s134", 0.8, dCanonOf("text"))} THEN 'train'
             |         WHEN ${dKeepOf("s134", 0.9, dCanonOf("text"))} THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents),
             |g AS (SELECT canon, count(DISTINCT split) AS n_splits
             |  FROM a GROUP BY canon)
             |SELECT split, count(*) AS n_docs, count(DISTINCT canon) AS n_groups,
             |  (SELECT MAX(n_splits) FROM g) AS max_splits_per_group
             |FROM a GROUP BY split ORDER BY split""".stripMargin)),

    // ------------------------------------------------------------------
    // q135 — cluster-keyed leakage-safe split (X33's strict form): q134
    // co-locates exact/formatting duplicates; this keys the split hash on
    // the NEAR-DUP cluster representative (connected component of the
    // Jaccard≥0.8 graph, the shared q37 artifact), so even paraphrase-level
    // duplicates can never straddle train and eval. Per-doc assignment is
    // returned whole — the oracle re-derives every cluster AND every split
    // decision from scratch.
    Q("q135_cluster_safe_split",
      (s, dir) =>
        Sampling.assignSplit(
            docClusters(s, dir),
            col("component"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s135")
          .select("doc_id", "component", "split")
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $dClusterCtes,
             |compfull AS (
             |  SELECT d.doc_id,
             |    COALESCE(least(c.mn, d.doc_id), d.doc_id) AS component
             |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
             |SELECT doc_id, component,
             |  CASE WHEN ${dKeepOf("s135", 0.8, "CAST(component AS VARCHAR)")}
             |       THEN 'train'
             |       WHEN ${dKeepOf("s135", 0.9, "CAST(component AS VARCHAR)")}
             |       THEN 'val'
             |       ELSE 'test' END AS split
             |FROM compfull ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q136 — containment join (X2f, Dedup.containmentJoinOnSets): the
    // DIRECTED quote-inclusion relation |A∩B|/|A| ≥ 0.5 over the shared
    // shingle-set artifact — the decontamination-grade question Jaccard
    // can't ask (a benchmark quoted inside a much longer training doc has
    // tiny Jaccard, containment ≈ 1). Exact values under oracle; both
    // directions of a mutual pair surface independently.
    Q("q136_containment_pairs",
      (s, dir) =>
        Dedup.containmentJoinOnSets(docSets(s, dir), "doc_id", threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $dShingleCte
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
             |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
             |WHERE len(a.s) > 0
             |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q137 — product quantization ANN (X34, Quantize.pqEncode/pqAdcTopK):
    // 64-dim embeddings → 8 subspaces × 4 literal centroids, ADC top-10
    // against the vec_id=7 query. Every code and every ADC distance is
    // replayed bit-for-bit by the oracle (the encode arithmetic is chosen
    // left-to-right-IEEE so DuckDB's list_dot_product reproduces it — the
    // q30 recipe); the lossless-recall point is spec-pinned in
    // QuantizeSpec, value-equality is pinned here.
    Q("q137_pq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val enc = Quantize.pqEncode(emb, col("embedding"), pqCodebooks)
        val qdf = emb.filter(col("vec_id") === 7)
          .select(col("embedding").as("qv"))
        Quantize.pqAdcTopK(enc.select(col("vec_id"), col("pq_code")),
            "vec_id", "pq_code", qdf, "qv", pqCodebooks, k = 10)
          .join(enc.select(col("vec_id"),
            concat_ws("-", col("pq_code").cast("array<string>")).as("code")),
            "vec_id")
          .select(col("vec_id"), col("code"), col("dist"))
          .orderBy("dist", "vec_id")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |enc AS (SELECT vec_id, ${dPqCodeList("v")} AS code FROM c),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
             |d AS (SELECT e.vec_id, array_to_string(e.code, '-') AS code,
             |        round(${dPqAdcDist("qv", "e.code")}, 6) AS dist
             |      FROM enc e, q)
             |SELECT vec_id, code, dist FROM d
             |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q139 — PQ cell statistics (X34's training/monitoring face,
    // Quantize.pqCellStats): per-(subspace, cell, component) occupancy and
    // integer micro-unit component sums under the q137 codebooks — cell
    // occupancy is the codebook-balance monitor, comp_sum_micro/(1e6·n)
    // the Lloyd update pqTrain consumes (its driver loop is spec-pinned,
    // the q126 BpeTrain division of labor). The oracle re-derives every
    // assignment and every integer sum. r6 lesson: the previous
    // round(x,6)→DECIMAL(28,6) shape went driver-red on hash only —
    // fractional-scale round() and high-scale decimal rendering are both
    // engine-dependent; round(x*1e6) at the INTEGER boundary and a BIGINT
    // sum are not (both engines round the same IEEE double, away from
    // zero at an exact tie), so no decimal arithmetic or rendering
    // survives anywhere in this query.
    Q("q139_pq_cell_stats",
      (s, dir) =>
        Quantize.pqCellStats(t(s, dir, "embeddings"), col("embedding"),
            pqCodebooks)
          .orderBy("s", "cell", "pos"),
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |enc AS (SELECT v, ${dPqCodeList("v")} AS code FROM c),
             |layers AS (
             |  ${pqCodebooks.indices.map { s =>
                 val o = pqOffsets(s)
                 s"SELECT $s AS s, CAST(code[${s + 1}] AS INTEGER) AS cell, " +
                   s"CAST(t.i AS INTEGER) AS pos, v[${o + 1} + t.i] AS x " +
                   s"FROM enc, range(${pqCodebooks(s).head.length}) t(i)"
               }.mkString("\n  UNION ALL ")})
             |SELECT s, cell, pos,
             |  CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT)
             |    AS comp_sum_micro,
             |  count(*) AS n
             |FROM layers GROUP BY s, cell, pos
             |ORDER BY s, cell, pos""".stripMargin)),

    // ------------------------------------------------------------------
    // q140 — incremental cross-batch NEAR-dup (X35,
    // Dedup.incrementalNearDupNew): docs ≥ 400 arrive as the new batch,
    // docs < 400 are the corpus whose PERSISTED band keys + shingle sets
    // are probed — history text is never re-scanned. Survivors = batch
    // docs with no verified j ≥ 0.8 history match. At this corpus and
    // band geometry LSH recall is total (the q28 pin), so the oracle's
    // exact bipartite Jaccard is the full contract — a missed band
    // collision would fail the gate, not hide.
    Q("q140_incremental_near_dup",
      (s, dir) => {
        val sets = docSets(s, dir)
        val hist = sets.filter(col("doc_id") < 400)
        Dedup.incrementalNearDupNew(
            sets.filter(col("doc_id") >= 400),
            Dedup.nearDupBandKeys(hist, "doc_id"),
            hist, "doc_id", threshold = 0.8)
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $dShingleCte,
             |batch AS (SELECT doc_id, s FROM sh WHERE doc_id >= 400 AND len(s) > 0),
             |hist AS (SELECT doc_id, s FROM sh WHERE doc_id < 400 AND len(s) > 0),
             |dup AS (SELECT DISTINCT b.doc_id FROM batch b JOIN hist h
             |        ON CAST(len(list_intersect(b.s, h.s)) AS DOUBLE)
             |           / (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) >= 0.8)
             |SELECT doc_id, len(s) AS n_grams FROM batch
             |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q141 — multi-batch near-dup LIFECYCLE (X35's operating contract,
    // which q140 only sampled for one batch): batch 1 probes the history
    // band state, its survivors' band keys APPEND to the state, and batch
    // 2 probes the evolved union — exactly the loop a user runs nightly.
    // The fixture geometry makes state evolution observable: docs 457 and
    // 486 near-duplicate batch-1 SURVIVORS (326, 435), not original
    // history, so they are dropped only if the state actually grew; 450
    // and 455 hit original history; 458/462 are intra-batch-2 (kept —
    // this pass is strictly batch-vs-history, the documented division of
    // labor with minHashLshPairsOnSets). The oracle replays both batches
    // with exact bipartite Jaccard over the evolved corpus.
    Q("q141_near_dup_lifecycle",
      (s, dir) => {
        val sets = docSets(s, dir)
        val hist = sets.filter(col("doc_id") < 300)
        val histBands = Dedup.nearDupBandKeys(hist, "doc_id")
        // surv1 feeds three consumers (its band keys, the evolved set
        // union, and the output) — materialize the join-heavy plan once;
        // the nightly deployment's parquet append IS this boundary (q161)
        val surv1 = Dedup.incrementalNearDupNew(
          sets.filter(col("doc_id") >= 300 && col("doc_id") < 450),
          histBands, hist, "doc_id", threshold = 0.8).localCheckpoint()
        val surv2 = Dedup.incrementalNearDupNew(
          sets.filter(col("doc_id") >= 450),
          histBands.unionAll(Dedup.nearDupBandKeys(surv1, "doc_id")),
          hist.unionAll(surv1), "doc_id", threshold = 0.8)
        surv1.withColumn("batch", lit(1))
          .unionAll(surv2.withColumn("batch", lit(2)))
          .select(col("doc_id"), col("batch"),
            size(col("sh")).cast("long").as("n_grams"))
          .orderBy("doc_id")
      },
      Some(nearDupLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q142 — Bloom-state dedup LIFECYCLE (X10's operating contract, the
    // exact-key sibling of q141): the history sketch is built ONCE
    // (Dedup.bloomKeyState), batch 1 probes it, and the refresh is
    // bloomKeyStateMerge(state, sketch(batch-1 survivors)) — batch-sized
    // work, the corpus is never re-sketched. Batch 2 then probes the
    // merged state over the evolved corpus. Text is unique per doc in this
    // fixture, so "duplicate" means the same doc_id sits in both id
    // classes: batch-2 ids ≡ 0 (mod 15) but odd (15, 45, …) are dropped
    // ONLY because batch-1 survivors entered the state — the evolution
    // observable. The oracle replays both batches as NOT EXISTS over the
    // same null-safe text keys (exactness at any fpp is the operator's
    // contract, q73's precedent).
    Q("q142_bloom_state_lifecycle",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val hist = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val state1 = Dedup.bloomKeyState(hist, Seq("text"),
          expectedItems = 1000000)
        // three consumers again (survivor sketch, evolved-corpus union,
        // output) — one materialization instead of three join re-runs
        val surv1 = Dedup.incrementalDedupWithState(hist,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), Seq("text"), state1)
          .localCheckpoint()
        val state2 = Dedup.bloomKeyStateMerge(state1,
          Dedup.bloomKeyState(surv1, Seq("text"), expectedItems = 1000000))
        val surv2 = Dedup.incrementalDedupWithState(hist.unionByName(surv1),
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), Seq("text"), state2)
        surv1.withColumn("batch", lit(1))
          .unionByName(surv2.withColumn("batch", lit(2)))
          .select("doc_id", "batch", "source")
          .orderBy("doc_id", "batch")
      },
      Some(bloomLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q143 — exact substring REMOVAL (X36, the Lee et al. ACL'22 cut that
    // q63 only scored): repeated ≥5-token spans are cut from document
    // interiors, the corpus-wide first occurrence (min (doc_id, offset))
    // survives, untouched text is byte-identical through the cut. k=5
    // because the sf0.01 fixture naturally repeats ~1.1k distinct 5-grams
    // (the 30-word vocabulary recurs in phrases), so the cut is exercised
    // on REAL collisions — cross-doc and self-repetition both. The oracle
    // replays the rule on gram STRINGS (the engine fingerprints the same
    // token slices with two salted xxhash64s — value-equal at < 10⁻²⁰
    // collision odds) and rebuilds kept tokens with single spaces, which
    // is byte-exact HERE because the fixture is single-space-separated
    // (verified: zero docs with runs/tabs/newlines/edge whitespace); the
    // messy-separator byte-preservation contract is pinned in DedupSpec.
    Q("q143_remove_duplicate_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 5)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, text,
             |         string_split_regex(regexp_replace(text,
             |           '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g'),
             |           '[ \t\n\f\r]+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, pos, array_to_string(t[pos+1:pos+5], ' ') AS g
             |  FROM toks, UNNEST(range(len(t) - 4)) AS u(pos)
             |  WHERE len(t) >= 5),
             |marks AS (
             |  SELECT doc_id, pos FROM (
             |    SELECT doc_id, pos,
             |           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
             |    FROM grams) WHERE rn > 1),
             |cov AS (
             |  SELECT DISTINCT doc_id, pos + u AS p
             |  FROM marks, UNNEST(range(5)) AS v(u)),
             |covl AS (SELECT doc_id, list(p) AS cps FROM cov GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CASE WHEN c.cps IS NULL THEN d.text
             |       -- coalesce: DuckDB's array_to_string([]) is NULL, but a
             |       -- fully-cut doc is the empty string, not a null doc
             |       ELSE coalesce(array_to_string(
             |         [d.t[i] FOR i IN range(1, len(d.t) + 1)
             |          IF NOT list_contains(c.cps, i - 1)], ' '), '') END AS text_clean,
             |  coalesce(len(c.cps), 0) AS n_removed
             |FROM toks d LEFT JOIN covl c USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q144 — PQ two-stage retrieval (X34's retrieval contract end-to-end,
    // the q127 Hamming-then-cosine pattern on the PQ rung): stage 1 scans
    // ONLY the 8-byte code column for ADC top-50 candidates (the corpus'
    // float vectors never leave disk), stage 2 re-ranks just those 50 by
    // exact cosine against the float column — candidate-bounded compute,
    // the broadcast side is the 50-row candidate frame. Both stages are
    // individually oracle-pinned (q137 pins ADC, q30 pins cosine); this
    // row pins their COMPOSITION: the candidate cut at rank 50 (ordered by
    // rounded dist, then vec_id — deterministic through ties) and the
    // re-ranked top-10. The self-match (vec 7) rides through at sim 1.0 —
    // retrieval APIs drop it caller-side; keeping it keeps the contract
    // value-checkable.
    Q("q144_pq_two_stage",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, dir, "embeddings")
        val enc = Quantize.pqEncode(emb, col("embedding"), pqCodebooks)
        val qdf = emb.filter(col("vec_id") === 7)
          .select(col("embedding").as("qv"))
        val cand = Quantize.pqAdcTopK(
          enc.select(col("vec_id"), col("pq_code")),
          "vec_id", "pq_code", qdf, "qv", pqCodebooks, k = 50)
        cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .crossJoin(broadcast(qdf))
          .select(col("vec_id"),
            round(graft.functions.GraftFunctions.cosineSim(
              col("embedding"), col("qv")), 6).as("sim"),
            col("dist"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |enc AS (SELECT vec_id, v, ${dPqCodeList("v")} AS code FROM c),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
             |d AS (SELECT e.vec_id, e.v,
             |        round(${dPqAdcDist("qv", "e.code")}, 6) AS dist
             |      FROM enc e, q),
             |cand AS (SELECT vec_id, v, dist FROM (
             |    SELECT *, row_number() OVER (ORDER BY dist, vec_id) AS rn FROM d)
             |  WHERE rn <= 50),
             |r AS (SELECT cand.vec_id,
             |        round(list_dot_product(q.qv, cand.v)
             |          / (sqrt(list_dot_product(q.qv, q.qv))
             |             * sqrt(list_dot_product(cand.v, cand.v))), 6) AS sim,
             |        cand.dist
             |      FROM cand, q)
             |SELECT vec_id, sim, dist FROM r
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q145 — Gopher-style composite quality rules (X37): the per-rule
    // boolean breakdown (word count / mean word length / symbol ratio /
    // bullet & ellipsis lines / alphabetic-word fraction / stopword hits /
    // the three Table A1 repetition screens) plus the conjunction. One
    // map-only pass, every ratio exact integer arithmetic divided once into
    // double — the oracle replays each rule bit-for-bit. minWords=20 sits
    // inside the fixture's 10..99 token range so BOTH outcomes of the
    // word-count rule (and of keep) appear; 8 fixture docs exceed the 0.2
    // top-2-gram coverage so ok_top_ngram shows both outcomes too. The
    // single-line fixture makes the duplicate-LINE screens trivially true
    // here — q156 exercises both of their outcomes on minted multi-line
    // docs.
    Q("q145_gopher_rules",
      (s, dir) => {
        // the rule arithmetic is lambda-heavy (sorted-gram folds) — spread
        // the single-row-group scan so it runs on every core; the BOUND
        // form pays each shared array subtree once per row
        TextStats.gopherFlagsBound(spread(s, t(s, dir, "documents")),
            col("text"), "g", minWords = 20, stopwords = Seq("a", "the"))
          .select(col("doc_id"), col("g.n_words").as("n_words"),
            col("g.ok_word_count").as("ok_word_count"),
            col("g.ok_mean_word_len").as("ok_mean_word_len"),
            col("g.ok_symbol_ratio").as("ok_symbol_ratio"),
            col("g.ok_bullet_lines").as("ok_bullet_lines"),
            col("g.ok_ellipsis_lines").as("ok_ellipsis_lines"),
            col("g.ok_alpha_words").as("ok_alpha_words"),
            col("g.ok_stopwords").as("ok_stopwords"),
            col("g.ok_dup_lines").as("ok_dup_lines"),
            col("g.ok_dup_line_chars").as("ok_dup_line_chars"),
            col("g.ok_top_ngram").as("ok_top_ngram"),
            col("g.keep").as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $dTok AS tk FROM documents),
             |${dGopherSt(Seq("a", "the"))}
             |SELECT doc_id, CAST(n AS INTEGER) AS n_words,
             |  (n >= 20 AND n <= 100000) AS ok_word_count,
             |  (meanlen >= 3.0 AND meanlen <= 10.0) AS ok_mean_word_len,
             |  (CASE WHEN n = 0 THEN 0.0 ELSE CAST(syms AS DOUBLE) / n END <= 0.1) AS ok_symbol_ratio,
             |  (nl = 0 OR CAST(bullets AS DOUBLE) / nl <= 0.9) AS ok_bullet_lines,
             |  (nl = 0 OR CAST(ells AS DOUBLE) / nl <= 0.3) AS ok_ellipsis_lines,
             |  (n > 0 AND CAST(alpha AS DOUBLE) / n >= 0.8) AS ok_alpha_words,
             |  (stops >= 2) AS ok_stopwords,
             |  $dOkDupLines AS ok_dup_lines,
             |  $dOkDupLineChars AS ok_dup_line_chars,
             |  $dOkTopNgram AS ok_top_ngram,
             |  ${dGopherKeep(20)} AS keep
             |FROM st ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q146 — REAL perceptual image hash under oracle (X38, the q98 pattern
    // one level deeper: PIXELS, not headers): every doc_id ≡ 3 (mod 10)
    // mints a gray-gradient BMP whose pixel values are a pure function of
    // the id (Multimodal.syntheticBmpGradient), imageAHash runs the real
    // ImageIO full-pixel decode + 8×8 point-sampled average-hash, and the
    // oracle recomputes the 64 samples, the integer mean, and the bit
    // pattern arithmetically. Params cycle with period lcm(4,2,3)=12 over
    // id/10 so the 50 fixture images land on 12 distinct patterns —
    // deliberate duplicates for q147's near-dup join.
    Q("q146_image_ahash",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 3)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticBmpGradient(
            ((id / 10) % 4 + 8).toInt, ((id / 10) % 2 + 9).toInt,
            ((id / 10) % 3 * 85).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.aHashPartitions(media, "doc_id", "payload")
          .orderBy("doc_id")
      },
      Some("""WITH img AS (SELECT doc_id,
             |    (doc_id // 10) % 4 + 8 AS w, (doc_id // 10) % 2 + 9 AS h,
             |    (doc_id // 10) % 3 * 85 AS seed
             |  FROM documents WHERE doc_id % 10 = 3),
             |g AS (SELECT t1.i, t2.j
             |      FROM generate_series(0, 7) t1(i), generate_series(0, 7) t2(j)),
             |sm AS (SELECT doc_id, i, j,
             |    (seed + 7 * (i * (w - 1) // 7) + 13 * (j * (h - 1) // 7)) % 256 AS lum
             |  FROM img, g),
             |mn AS (SELECT doc_id, sum(lum) // 64 AS mean FROM sm GROUP BY doc_id)
             |SELECT sm.doc_id,
             |  bit_or(CASE WHEN lum <= mean THEN 0::BIGINT
             |              WHEN 8 * j + i = 63 THEN (-9223372036854775807 - 1)
             |              ELSE 1::BIGINT << CAST(8 * j + i AS INTEGER) END) AS ahash
             |FROM sm JOIN mn USING (doc_id)
             |GROUP BY sm.doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q147 — image near-dup pairs over the q146 hashes (X38's join face):
    // aHash is an 8-byte signature with the same Hamming-locality contract
    // as SimHash on text, so the EXISTING quarter-blocked pair join
    // (Dedup.simHashPairsOnSigs — keyed, never crossed, exact recall at
    // hamming ≤ 3 by pigeonhole) applies unchanged to images. The oracle
    // brute-forces all pairs — recall exactness is the claim under test.
    Q("q147_image_near_dup",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 3)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticBmpGradient(
            ((id / 10) % 4 + 8).toInt, ((id / 10) % 2 + 9).toInt,
            ((id / 10) % 3 * 85).toInt)))
          .toDF("doc_id", "payload")
        val sigs = Multimodal.aHashPartitions(media, "doc_id", "payload")
          .select(col("doc_id"), col("ahash").as("sig"))
        Dedup.simHashPairsOnSigs(sigs, "doc_id", maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH img AS (SELECT doc_id,
             |    (doc_id // 10) % 4 + 8 AS w, (doc_id // 10) % 2 + 9 AS h,
             |    (doc_id // 10) % 3 * 85 AS seed
             |  FROM documents WHERE doc_id % 10 = 3),
             |g AS (SELECT t1.i, t2.j
             |      FROM generate_series(0, 7) t1(i), generate_series(0, 7) t2(j)),
             |sm AS (SELECT doc_id, i, j,
             |    (seed + 7 * (i * (w - 1) // 7) + 13 * (j * (h - 1) // 7)) % 256 AS lum
             |  FROM img, g),
             |mn AS (SELECT doc_id, sum(lum) // 64 AS mean FROM sm GROUP BY doc_id),
             |hs AS (SELECT sm.doc_id,
             |    bit_or(CASE WHEN lum <= mean THEN 0::BIGINT
             |                WHEN 8 * j + i = 63 THEN (-9223372036854775807 - 1)
             |                ELSE 1::BIGINT << CAST(8 * j + i AS INTEGER) END) AS ahash
             |  FROM sm JOIN mn USING (doc_id) GROUP BY sm.doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
             |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q148 — KMV cross-source overlap estimation (X39): per-source
    // k-minimum-values sketches over word-3-gram shingles, pairwise Jaccard
    // estimated from the sketch rows ALONE — the cross-corpus contamination
    // question ("how much does source A overlap source B?") answered
    // without ever joining the corpora: each source contributes k·8 bytes
    // of state, built in one partial-aggregated pass (MinKDistinct: the
    // buffer, never the group's keys, is what shuffles). The oracle replays
    // the hash, the per-source min-64, and the union-min-k estimator
    // exactly — KMV's determinism (output depends only on the key SET) is
    // itself under test.
    Q("q148_kmv_overlap",
      (s, dir) => {
        val sk = graft.ops.Sketches.kmvSketch(
          kmvGrams(s, dir), col("source"), col("sh"), k = 64, seed = "kmv")
        graft.ops.Sketches.kmvJaccard(sk, k = 64)
          .orderBy("grp_a", "grp_b")
      },
      Some(kmvOverlapOracleSql)),

    // ------------------------------------------------------------------
    // q150 — KMV lifecycle (X39's cross-batch face, the q141/q142 pattern):
    // the corpus arrives as two batches (doc_id parity), EACH batch is
    // sketched independently in its own pass, the batch sketches merge
    // WITHOUT touching either batch again, and the merged sketch's overlap
    // estimates go under the SAME oracle as q148's whole-corpus run —
    // merge-then-estimate ≡ estimate-over-union is the driver-checked
    // claim, not just the spec-pinned one. This is the shape a 100 TB
    // deployment actually runs: per-ingest sketch rows persisted next to
    // each batch, k·8 B per source per batch, history never re-scanned.
    Q("q150_kmv_lifecycle",
      (s, dir) => {
        val grams = kmvGrams(s, dir)
        val sketch = (parity: Int) => graft.ops.Sketches.kmvSketch(
          grams.filter(pmod(col("doc_id"), lit(2)) === parity),
          col("source"), col("sh"), k = 64, seed = "kmv")
        val merged = graft.ops.Sketches.kmvMergeSketches(
          sketch(0).unionByName(sketch(1)), k = 64)
        graft.ops.Sketches.kmvJaccard(merged, k = 64)
          .orderBy("grp_a", "grp_b")
      },
      Some(kmvOverlapOracleSql)),

    // ------------------------------------------------------------------
    // q151 — per-line language segmentation / mixed-language detection
    // (X4's code-switching face): consecutive fixture docs pair into
    // two-line documents (even doc_id line 1, odd line 2 — many pairs
    // cross languages), langIdByLine segments per line and re-aggregates
    // into majority language + its share + distinct-language count. The
    // oracle replays line splitting (subscripted, so duplicate lines keep
    // their multiplicity), the per-line argmax with the q23 tie-break,
    // and both aggregation levels.
    Q("q151_mixed_language",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
          .select(expr("doc_id div 2").as("pair_id"), col("text").as("ta"))
        val b = docs.filter(col("doc_id") % 2 === 1)
          .select(expr("doc_id div 2").as("pair_id"), col("text").as("tb"))
        val paired = a.join(b, "pair_id")
          .select(col("pair_id").as("doc_id"),
            concat(col("ta"), lit("\n"), col("tb")).as("text"))
        TextStats.langIdByLine(paired, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some {
        val profiles = TextStats.defaultProfiles.sortBy(_._1)
        val values = profiles.map { case (lang, words) =>
          s"('$lang', [${words.map(w => s"'$w'").mkString(", ")}])"
        }.mkString(",\n    ")
        s"""WITH pa AS (SELECT doc_id // 2 AS pid, text AS ta FROM documents WHERE doc_id % 2 = 0),
           |pb AS (SELECT doc_id // 2 AS pid, text AS tb FROM documents WHERE doc_id % 2 = 1),
           |paired AS (SELECT pa.pid AS doc_id, ta || chr(10) || tb AS text
           |           FROM pa JOIN pb USING (pid)),
           |lines AS (SELECT doc_id, i AS line_no, ls[i] AS line
           |          -- bound derived from the data (unnest over each doc's
           |          -- own range), never a fixed cap a longer fixture
           |          -- could silently overflow
           |          FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
           |                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM paired))
           |          WHERE len(regexp_replace(ls[i], '^[ \\t]+|[ \\t]+$$', '', 'g')) > 0),
           |lt AS (SELECT doc_id, line_no,
           |         list_filter(string_split_regex(lower(line), '\\s+'), x -> len(x) > 0) AS tk
           |       FROM lines),
           |sc AS (SELECT doc_id, line_no, p.cand,
           |         len(list_filter(tk, x -> list_contains(p.words, x))) AS score
           |       FROM lt CROSS JOIN (VALUES
           |    $values) p(cand, words)),
           |ll AS (SELECT doc_id, line_no, cand AS line_lang FROM (
           |         SELECT *, row_number() OVER (PARTITION BY doc_id, line_no
           |                                      ORDER BY score DESC, cand) AS rn
           |         FROM sc)
           |       WHERE rn = 1),
           |lc AS (SELECT doc_id, line_lang, count(*) AS cnt FROM ll GROUP BY doc_id, line_lang),
           |top AS (SELECT doc_id, line_lang AS major_lang, cnt FROM (
           |          SELECT *, row_number() OVER (PARTITION BY doc_id
           |                                       ORDER BY cnt DESC, line_lang) AS rn
           |          FROM lc)
           |        WHERE rn = 1),
           |ag AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
           |         CAST(count(DISTINCT line_lang) AS INTEGER) AS n_langs
           |       FROM lc GROUP BY doc_id)
           |SELECT ag.doc_id, ag.n_lines, top.major_lang,
           |  round(CAST(top.cnt AS DOUBLE) / ag.n_lines, 6) AS major_frac,
           |  ag.n_langs
           |FROM ag JOIN top USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q152 — curation pipeline v2 (the q128 composition upgraded with this
    // round's gates): canonicalize → exact dedup on the canonical key →
    // Gopher rule screen + language-CONSISTENCY screen (detected language
    // must agree with the labeled one — the mislabeled-corpus filter) →
    // REAL BPE token counts → global token budget, wired through the
    // Pipeline DAG with the gate boundary materialized. The oracle
    // composes all five stages in SQL from the SAME shared fragments the
    // individual queries use (dCanonOf, dGopherSt/dGopherKeep, the q23
    // argmax, dBpeCount, dQuality), so stage wiring AND each gate's
    // semantics sit under one hash.
    //
    // Perf finding (round 10): the Column-form gopherFlags repeated its
    // tokenize/line-split/shingle-sort subtrees across the eleven rules
    // and the HOF-bearing projection is EXCLUDED from whole-stage codegen
    // (verified: zero codegen'd occurrences), so no subexpression
    // elimination rescued it — the gate now uses gopherFlagsBound, which
    // binds the three shared arrays once per row (measured 1.8-2x on the
    // gate alone; q145 1.38->0.91 s, q156 1.26->0.92 s at sf0.1). The
    // residual q152 cost above that is the canon+dedup shuffle chain and
    // the real BPE encode — intrinsic stage work, not re-evaluation.
    Q("q152_curation_v2_e2e",
      (s, dir) => {
        import graft.pipeline.{Pipeline, Stage}
        val ckpt = workDir("q152").toString
        val pipe = new Pipeline(Seq(
          Stage("canon", Nil, _ => spread(s, t(s, dir, "documents"))
            .select(col("doc_id"), col("lang"), col("text"),
              TextStats.normalizeForDedup(col("text")).as("canon"))),
          Stage("dedup", Seq("canon"), deps =>
            Dedup.exactKeepFirst(deps("canon"), Seq("canon"), col("doc_id"))),
          // spread + checkpoint barrier: predicate pushdown rewrites the
          // gopher keep / langId filters through a bare repartition (alias
          // substitution) and runs them in the dedup reduce's single
          // AQE-coalesced task; the LogicalRDD pin makes the spread stick.
          // §5 scale note: localCheckpoint blocks are executor-pinned and
          // unrecoverable on executor loss — acceptable for one bounded
          // query; use Checkpointing.truncate with a reliable dir where a
          // query retry is not an option.
          Stage("gate", Seq("dedup"), deps =>
            TextStats.gopherFlagsBound(
                spread(s, deps("dedup")).localCheckpoint(true), col("text"),
                "__g", minWords = 20, stopwords = Seq("a", "the"))
              .filter(col("__g.keep")).drop("__g")
              .filter(TextStats.langId(col("text")) === col("lang"))),
          // spread: the materialized gate lands as ONE file = one split,
          // and the BPE count is the pipeline's most expensive map pass
          Stage("scored", Seq("gate"), deps => spread(s, deps("gate"))
            .select(col("doc_id"),
              TextStats.bpeTokenCount(col("text"), bpeMerges).as("n_bpe"),
              TextStats.qualityScore(col("text")).as("q"))),
          Stage("budget", Seq("scored"), deps =>
            TextStats.selectUnderTokenBudgetByCount(deps("scored"), "doc_id",
                col("n_bpe"), col("q"), budget = 15000L)
              .orderBy("doc_id"))))
        pipe.run(s, Some(ckpt), materialize = Set("gate"))("budget")
      },
      Some {
        val profiles = TextStats.defaultProfiles.sortBy(_._1)
        val values = profiles.map { case (lang, words) =>
          s"('$lang', [${words.map(w => s"'$w'").mkString(", ")}])"
        }.mkString(",\n    ")
        s"""WITH canon AS (
           |  SELECT doc_id, lang, text, ${dCanonOf("text")} AS canon
           |  FROM documents),
           |kept AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon),
           |tk AS (SELECT c.doc_id, c.lang, c.text, $dTok AS tk
           |       FROM canon c JOIN kept k USING (doc_id)),
           |${dGopherSt(Seq("a", "the"))},
           |g AS (SELECT doc_id FROM st WHERE ${dGopherKeep(20)}),
           |lp AS (SELECT doc_id, cand AS pred FROM (
           |    SELECT sc.*, row_number() OVER (PARTITION BY doc_id
           |                                    ORDER BY score DESC, cand) AS rn
           |    FROM (SELECT tk.doc_id, p.cand,
           |            len(list_filter(list_transform(tk.tk, y -> lower(y)),
           |                            x -> list_contains(p.words, x))) AS score
           |          FROM tk JOIN g USING (doc_id) CROSS JOIN (VALUES
           |    $values) p(cand, words)) sc)
           |  WHERE rn = 1),
           |gate AS (SELECT tk.doc_id, tk.text FROM tk
           |         JOIN g USING (doc_id) JOIN lp USING (doc_id)
           |         WHERE lp.pred = tk.lang),
           |scored AS (SELECT doc_id, CAST($dBpeCount AS BIGINT) AS n_tokens,
           |             $dQuality AS q
           |           FROM gate),
           |cum AS (SELECT doc_id, n_tokens,
           |    CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           |  FROM scored)
           |SELECT doc_id, n_tokens, cum_tokens FROM cum
           |WHERE cum_tokens <= 15000
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q153 — REAL pixel resize under oracle (X5's last stub made real):
    // gradient BMPs decode (ImageIO), resample nearest-neighbor to 8×6
    // (integer src = dst·srcDim/dstDim mapping), re-encode as BMP
    // (encodeBmp — the write-side dual of the decoder), then the resized
    // PAYLOADS — not metadata — are decoded again and perceptually hashed.
    // The oracle replays mint → resample → 8×8 grid sample → threshold as
    // pure integer arithmetic, so decode, resample, re-encode, and
    // re-decode all sit under one hash. Composability is the point:
    // resizePartitions emits a payload column any downstream decoder
    // consumes unchanged.
    Q("q153_image_resize",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 4)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticBmpGradient(
            ((id / 10) % 4 + 9).toInt, ((id / 10) % 3 + 7).toInt,
            ((id / 10) % 5 * 51).toInt)))
          .toDF("doc_id", "payload")
        val resized = Multimodal.resizePartitions(media, "doc_id", "payload", 8, 6)
        Multimodal.aHashPartitions(resized, "doc_id", "payload")
          .orderBy("doc_id")
      },
      Some("""WITH img AS (SELECT doc_id,
             |    (doc_id // 10) % 4 + 9 AS w, (doc_id // 10) % 3 + 7 AS h,
             |    (doc_id // 10) % 5 * 51 AS seed
             |  FROM documents WHERE doc_id % 10 = 4),
             |g AS (SELECT t1.i, t2.j
             |      FROM generate_series(0, 7) t1(i), generate_series(0, 7) t2(j)),
             |sm AS (SELECT doc_id, i, j,
             |    (seed + 7 * ((i * w) // 8)
             |          + 13 * ((((j * 5) // 7) * h) // 6)) % 256 AS lum
             |  FROM img, g),
             |mn AS (SELECT doc_id, sum(lum) // 64 AS mean FROM sm GROUP BY doc_id)
             |SELECT sm.doc_id,
             |  bit_or(CASE WHEN lum <= mean THEN 0::BIGINT
             |              WHEN 8 * j + i = 63 THEN (-9223372036854775807 - 1)
             |              ELSE 1::BIGINT << CAST(8 * j + i AS INTEGER) END) AS ahash
             |FROM sm JOIN mn USING (doc_id)
             |GROUP BY sm.doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q154 — REAL audio SAMPLE decode under oracle (X5, the q153 trick for
    // audio: SAMPLES, not headers): WAV clips mint with a deterministic
    // 16-bit pattern (sample k = (seed + 3k) mod 2¹⁶ − 2¹⁵), audioEnergy
    // runs the real javax.sound.sampled stream decode and sums sample²
    // in exact integer arithmetic, and the oracle recomputes the energy
    // from the pattern formula — so container parse, sample extraction,
    // byte order, and channel interleaving all sit under the hash.
    Q("q154_audio_energy",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 5)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticWavPattern(
            8000, ((id / 10) % 2 + 1).toInt, ((id / 10) % 50 + 10).toInt,
            ((id / 10) % 7 * 1000).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.audioEnergyPartitions(media, "doc_id", "payload")
          .orderBy("doc_id")
      },
      Some("""WITH clip AS (SELECT doc_id,
             |    (doc_id // 10) % 2 + 1 AS ch, (doc_id // 10) % 50 + 10 AS fr,
             |    (doc_id // 10) % 7 * 1000 AS seed
             |  FROM documents WHERE doc_id % 10 = 5),
             |s AS (SELECT doc_id, ((seed + 3 * k) % 65536) - 32768 AS v
             |      FROM clip, generate_series(0, 199) t(k)
             |      WHERE k < fr * ch)
             |SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS energy
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q155 — IVF + PQ composed retrieval (X3 + X34 — the shape a 100 TB
    // ANN deployment actually runs, which q97/q137/q144 each only rung):
    // the index table (vec_id, pq_code, cell) is built once — PQ-encode +
    // literal-codebook IVF cell assignment, both map-only — and written
    // PARTITIONED BY cell; the query's 2 probe cells (of 4) are computed
    // driver-side from the same literal centroids (O(centroids), no job),
    // so the `cell IN probes` filter prunes PARTITIONS and the ADC stage
    // reads the 8-byte code column of probed cells ONLY (the float corpus
    // never leaves disk; PlanAuditSpec pins the scan shape). ADC top-30
    // then exact-cosine re-ranks top-10 (the q144 two-stage contract,
    // candidate-bounded). The oracle replays ALL THREE stages — cell
    // argmax (score = v·c/‖c‖, ties to lowest cell), probe ranking, ADC,
    // re-rank — bit-for-bit from the embeddings table alone; the self-match
    // (vec 7) rides through at sim 1.0 as in q144.
    Q("q155_ivf_pq_ann",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, dir, "embeddings")
        val tmp = workDir("q155").toString
        Quantize.pqEncode(emb, col("embedding"), pqCodebooks)
          .withColumn("cell",
            Similarity.ivfCellAssign(col("embedding"), ivfCentroids))
          .select(col("vec_id"), col("pq_code"), col("cell"))
          .write.partitionBy("cell").parquet(s"$tmp/index")
        val index = Parquet.scan(s, s"$tmp/index")
        val qv = emb.filter(col("vec_id") === 7).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble)
        val probed = Similarity.ivfProbeCells(qv, ivfCentroids, nProbe = 2)
        val qdf = emb.filter(col("vec_id") === 7)
          .select(col("embedding").as("qv"))
        val pruned = index.filter(col("cell").isin(probed: _*))
        val cand = Quantize.pqAdcTopK(
            pruned.select(col("vec_id"), col("pq_code")),
            "vec_id", "pq_code", qdf, "qv", pqCodebooks, k = 30)
          .join(pruned.select(col("vec_id"), col("cell")), "vec_id")
        cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .crossJoin(broadcast(qdf))
          .select(col("vec_id"), col("cell"),
            round(graft.functions.GraftFunctions.cosineSim(
              col("embedding"), col("qv")), 6).as("sim"),
            col("dist"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cellv AS (SELECT vec_id, v, ${dIvfNegScores("v")} AS ns FROM c),
             |cell AS (SELECT vec_id, v,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv),
             |qn AS (SELECT v AS qv, ${dIvfNegScores("v")} AS qns FROM c WHERE vec_id = 7),
             |probes AS (SELECT CAST(j - 1 AS INTEGER) AS cell FROM (
             |    SELECT j, row_number() OVER (ORDER BY qns[j], j) AS rn
             |    FROM qn, generate_series(1, ${ivfCentroids.size}) t(j)) WHERE rn <= 2),
             |enc AS (SELECT vec_id, v, cell, ${dPqCodeList("v")} AS code FROM cell),
             |pruned AS (SELECT e.vec_id, e.v, e.cell, e.code
             |           FROM enc e JOIN probes USING (cell)),
             |d AS (SELECT p.vec_id, p.v, p.cell,
             |        round(${dPqAdcDist("qv", "p.code")}, 6) AS dist
             |      FROM pruned p, qn),
             |cand AS (SELECT vec_id, v, cell, dist FROM (
             |    SELECT *, row_number() OVER (ORDER BY dist, vec_id) AS rn FROM d)
             |  WHERE rn <= 30),
             |r AS (SELECT cand.vec_id, cand.cell,
             |        round(list_dot_product(qn.qv, cand.v)
             |          / (sqrt(list_dot_product(qn.qv, qn.qv))
             |             * sqrt(list_dot_product(cand.v, cand.v))), 6) AS sim,
             |        cand.dist
             |      FROM cand, qn)
             |SELECT vec_id, cell, sim, dist FROM r
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q156 — the duplicate-LINE repetition screens on multi-line documents
    // (X37's Table A1 completion, exercised where it can actually fire:
    // the fixture is single-line, so q145 can only show these rules
    // passing). Consecutive fixture docs pair into multi-line documents
    // (the q151 construction); every third pair repeats its first line
    // verbatim, pushing its duplicate-line fraction to exactly 1/3 (> 0.3)
    // and its duplicate-line character share past 0.2 — both screens show
    // both outcomes, and keep composes them with the rest of the gate.
    Q("q156_gopher_dup_lines",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
          .select(expr("doc_id div 2").as("pair_id"), col("text").as("ta"))
        val b = docs.filter(col("doc_id") % 2 === 1)
          .select(expr("doc_id div 2").as("pair_id"), col("text").as("tb"))
        val paired = a.join(b, "pair_id")
          .select(col("pair_id").as("doc_id"),
            when(col("pair_id") % 3 === 0,
                concat(col("ta"), lit("\n"), col("tb"), lit("\n"), col("ta")))
              .otherwise(concat(col("ta"), lit("\n"), col("tb"))).as("text"))
        // AQE coalesces the tiny join output to one partition; re-spread it
        // so the lambda-heavy rule stage keeps the session's parallelism
        TextStats.gopherFlagsBound(spread(s, paired), col("text"), "g",
            minWords = 20, stopwords = Seq("a", "the"))
          .select(col("doc_id"),
            col("g.ok_dup_lines").as("ok_dup_lines"),
            col("g.ok_dup_line_chars").as("ok_dup_line_chars"),
            col("g.ok_top_ngram").as("ok_top_ngram"),
            col("g.keep").as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pa AS (SELECT doc_id // 2 AS pid, text AS ta FROM documents WHERE doc_id % 2 = 0),
             |pb AS (SELECT doc_id // 2 AS pid, text AS tb FROM documents WHERE doc_id % 2 = 1),
             |tk AS (SELECT doc_id, text, $dTok AS tk FROM (
             |    SELECT pid AS doc_id,
             |      CASE WHEN pid % 3 = 0 THEN ta || chr(10) || tb || chr(10) || ta
             |           ELSE ta || chr(10) || tb END AS text
             |    FROM pa JOIN pb USING (pid))),
             |${dGopherSt(Seq("a", "the"))}
             |SELECT doc_id, $dOkDupLines AS ok_dup_lines,
             |  $dOkDupLineChars AS ok_dup_line_chars,
             |  $dOkTopNgram AS ok_top_ngram,
             |  ${dGopherKeep(20)} AS keep
             |FROM st ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q157 — REAL multi-frame GIF decode under oracle (X5: q110's frame
    // COUNT upgraded to per-frame PIXELS): every doc_id ≡ 6 (mod 10) mints
    // an animated gray-gradient GIF (2–4 frames, values on an explicit
    // 256-gray palette so the GIF round-trip is lossless — spec-pinned),
    // gifFrameAHashes walks the container with the indexed ImageReader API
    // (getNumImages(true) + per-frame read) and aHashes each frame with
    // the SAME core as the stills, and the oracle replays frame count, all
    // 64 samples per frame, and the bit pattern arithmetically. Frame
    // decode, not just container parse, is what sits under the hash.
    Q("q157_gif_frames",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 6)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticGifGradient(
            ((id / 10) % 4 + 8).toInt, ((id / 10) % 2 + 9).toInt,
            ((id / 10) % 3 + 2).toInt, ((id / 10) % 5 * 47).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.frameAHashPartitions(media, "doc_id", "payload")
          .orderBy("doc_id", "frame")
      },
      Some("""WITH img AS (SELECT doc_id,
             |    (doc_id // 10) % 4 + 8 AS w, (doc_id // 10) % 2 + 9 AS h,
             |    (doc_id // 10) % 3 + 2 AS nf, (doc_id // 10) % 5 * 47 AS seed
             |  FROM documents WHERE doc_id % 10 = 6),
             |fr AS (SELECT doc_id, w, h, seed, CAST(f AS INTEGER) AS frame
             |       FROM img, generate_series(0, 3) t(f) WHERE f < nf),
             |g AS (SELECT t1.i, t2.j
             |      FROM generate_series(0, 7) t1(i), generate_series(0, 7) t2(j)),
             |sm AS (SELECT doc_id, frame, i, j,
             |    (seed + 7 * (i * (w - 1) // 7) + 13 * (j * (h - 1) // 7)
             |     + 29 * frame) % 256 AS lum
             |  FROM fr, g),
             |mn AS (SELECT doc_id, frame, sum(lum) // 64 AS mean
             |       FROM sm GROUP BY doc_id, frame)
             |SELECT sm.doc_id, sm.frame,
             |  bit_or(CASE WHEN lum <= mean THEN 0::BIGINT
             |              WHEN 8 * j + i = 63 THEN (-9223372036854775807 - 1)
             |              ELSE 1::BIGINT << CAST(8 * j + i AS INTEGER) END) AS ahash
             |FROM sm JOIN mn USING (doc_id, frame)
             |GROUP BY sm.doc_id, sm.frame ORDER BY doc_id, frame""".stripMargin)),

    // ------------------------------------------------------------------
    // q158 — STREAMING dedup lifecycle (X10 meets §2.7: q142's nightly
    // loop run as actual Structured Streaming micro-batches — the
    // continuous-ingest production shape). The two ingest batches are
    // staged as files with ordered modification times; the file source
    // (maxFilesPerTrigger=1, oldest first) delivers each as its own
    // micro-batch, and foreachBatch runs the SAME operators as q142:
    // probe the persisted Bloom state, exact-confirm against the corpus
    // map-side, commit survivors, refresh the Bloom over the batch
    // survivors alone — the corpus is never re-sketched.
    //
    // EXACTLY-ONCE: both state carriers ride the X59 faces, so a
    // restarted stream re-delivering a batchId no-ops instead of
    // double-appending (the at-least-once hole this query carried before
    // the ledger existed). The GROWING state — corpus ∪ output, one
    // frame with a `batch` column (0 = the seed corpus) — commits
    // per-batch deltas through `ledgerAppendIfAbsent` (O(batch) per
    // commit; a versioned rewrite would re-copy the corpus every batch,
    // the wrong asymptote at ingest cadence). The BOUNDED state — the
    // Bloom bytes — rides `writeVersionIfAbsent` as a 1-row binary frame,
    // version N+1 = merge(version N, batch sketch): the q203 shape. The
    // two commits chain delta-first; a crash between them heals on
    // replay because the Bloom merge derives from the COMMITTED survivor
    // delta, never the recomputation. The oracle is BYTE-FOR-BYTE
    // q142's: the streaming run's end state hash-matching the batch
    // replay is the claim under test.
    Q("q158_streaming_dedup_lifecycle",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val work = workDir("q158")
        val state = graft.core.Table(s, work.toString, "corpus")
        val bloomT = graft.core.Table(s, work.toString, "bloom")
        def bloomDf(bytes: Array[Byte]): DataFrame = {
          import s.implicits._
          Seq(bytes).toDF("state")
        }
        // 1-row read of the bounded sketch state — the only collect here
        def bloomOf(v: Long): Array[Byte] =
          bloomT.readVersion(v).head().getAs[Array[Byte]](0)
        // survivors of one committed batch: delta fast path (O(batch)),
        // ledger-scan fallback for the crash-corner where a fold already
        // absorbed the delta before a heal replayed it
        def survivorsOf(id: Long): DataFrame =
          scala.util.Try(state.readLedgerDelta(id)).getOrElse(
            state.readLedger.filter(col("batch") === id))
        state.ledgerAppendIfAbsent(0L,
          docs.filter(pmod(col("doc_id"), lit(2)) === 0)
            .withColumn("batch", lit(0).cast("int")))
        bloomT.writeVersionIfAbsent(0L, bloomDf(Dedup.bloomKeyState(
          survivorsOf(0L).drop("batch"), Seq("text"), expectedItems = 1000000)))
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          val id = batchId + 1
          state.ledgerAppendIfAbsent(id,
            Dedup.incrementalDedupWithState(state.readLedger.drop("batch"),
                batch, Seq("text"), bloomOf(batchId))
              .withColumn("batch", lit(id).cast("int")))
          bloomT.writeVersionIfAbsent(id, bloomDf(Dedup.bloomKeyStateMerge(
            bloomOf(batchId),
            Dedup.bloomKeyState(survivorsOf(id).drop("batch"), Seq("text"),
              expectedItems = 1000000))))
        }
        // one file per ingest batch
        Staging.fileStream(work,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) === 0)).drain(onBatch)
        state.readLedger.filter(col("batch") >= 1)
          .select(col("doc_id"), col("batch"), col("source"))
          .orderBy("doc_id", "batch")
      },
      Some(bloomLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q160 — PageRank WITH dangling-mass redistribution (X32 on a DIRECTED
    // graph, where q132's mirrored-edge fixture could not exercise the
    // teleport term): part → supplier edges only, so every supplier node
    // is dangling and a large rank mass would leak each round under the
    // default simplification. redistributeDangling folds each round's
    // dangling total back as `dm DIV N` per node before damping — still
    // pure integer arithmetic, one broadcast scalar per round — and the
    // oracle replays all three rounds including the redistribution, so
    // cross-subgraph rank comparability (total mass ≈ scale) sits under
    // the hash.
    Q("q160_pagerank_dangling",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        graft.ops.Graph.pageRank(edges, iterations = 3,
            redistributeDangling = true)
          .orderBy(desc("pr"), col("id")).limit(20)
      },
      Some(s"""WITH e AS (
             |  SELECT DISTINCT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst
             |  FROM lineitem),
             |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
             |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
             |params AS (SELECT count(*) AS cnt,
             |  1000000000000 // count(*) AS r_init,
             |  (1000000000000 * 15) // (100 * count(*)) AS base FROM n),
             |r0 AS (SELECT id, (SELECT r_init FROM params) AS pr FROM n),
             |$dPagerankDanglingIters
             |SELECT id, pr FROM r3 ORDER BY pr DESC, id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q161 — STREAMING near-dup lifecycle (X35 meets §2.7, q158's exact-key
    // pattern lifted to near-duplicates): q141's nightly loop as real
    // micro-batches. The persisted state is exactly X35's contract — the
    // history shingle sets plus the band keys — and each micro-batch
    // probes the band table with one keyed join, exact-verifies candidates
    // against history sets, then commits its survivors' sets and band keys
    // as per-batch LEDGER deltas, so batch 2 probes the evolved union (the
    // fixture docs that near-duplicate batch-1 SURVIVORS are dropped only
    // because the state actually grew). Both state tables ride
    // `ledgerAppendIfAbsent` — exactly-once under restart replay (q204 is
    // the proof), O(batch) per commit. The oracle is byte-for-byte q141's:
    // streaming end state ≡ batch replay.
    //
    // State maintenance IN the loop (X45's ledger analog): at thousands of
    // batches one delta dir per batch degrades state reads into the
    // small-file swamp X45 exists to fix. Each batch OPENS with
    // `ledgerCompact` — a metadata-only listing that folds deltas into one
    // base dir ONLY when the live-delta count crossed the threshold (the
    // Delta-OPTIMIZE cadence; the fold is the transaction-log checkpoint
    // move, and ids it absorbs still no-op on replay — fixture cadence
    // actually exercises a fold at batch 2's entry). Folding at the READ
    // edge puts every rewrite in front of the scan it speeds up and never
    // pays for the lifecycle's last append; content identity means the
    // hash cannot move. The body lives in [[nearDupLedgerSetup]], shared
    // verbatim with q204's restart replay.
    Q("q161_streaming_near_dup_lifecycle",
      (s, dir) => {
        val work = workDir("q161")
        val (sets, _, runOnce) = nearDupLedgerSetup(s, dir, work)
        runOnce(work.resolve("cp").toString)
        sets.readLedger.filter(col("batch") >= 1)
          .select(col("doc_id"), col("batch"),
            size(col("sh")).cast("long").as("n_grams"))
          .orderBy("doc_id")
      },
      Some(nearDupLifecycleOracleSql))
,
    // ------------------------------------------------------------------
    // q162 — large-star/small-star connected components (X40): the SAME
    // duplicate clustering as q37 computed by the Kiveris et al. alternating
    // star-contraction algorithm instead of min-label propagation — round
    // count logarithmic in component size instead of linear in graph
    // diameter, the property that matters when a crawl's template-mutation
    // chains are hundreds of hops deep. Identical oracle to q37: both
    // algorithms must land on the one true component map.
    Q("q162_dedup_clusters_star",
      (s, dir) => {
        Dedup.connectedComponentsStar(
            docPairs(s, dir), t(s, dir, "documents"), "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $dClusterCtes
             |SELECT d.doc_id, COALESCE(least(c.mn, d.doc_id), d.doc_id) AS component
             |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q163 — DSIR importance scores (X41, Xie et al. NeurIPS 2023): every
    // document scored by how much its hashed-unigram+bigram features favor
    // the TARGET domain (the English slice) over the raw corpus — integer
    // micro-nat log-ratios summed exactly per doc (see Dsir's scaladoc for
    // the engine-portability argument). The oracle rebuilds both bucket
    // distributions, the smoothed per-bucket ratio, and the per-doc sums.
    Q("q163_dsir_scores",
      (s, dir) => dsirScores(s, dir).orderBy("doc_id"),
      Some(s"""WITH $dDsirCtes
             |SELECT d.doc_id, COALESCE(sc.s, 0) AS score_micro
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q164 — DSIR Gumbel-top-k resample (X41's selection step): the 40
    // documents kept by softmax-without-replacement sampling on the q163
    // scores, with the Gumbel drawn from the md5 uniform of the doc id (the
    // X12 determinism contract). Result re-ordered by doc_id so the compare
    // checks the selected SET + scores, not the priority order.
    Q("q164_dsir_resample",
      (s, dir) => {
        Dsir.gumbelResampleK(dsirScores(s, dir), col("doc_id"),
            col("score_micro"), k = 40)
          .orderBy("doc_id")
      },
      Some(s"""WITH $dDsirCtes,
             |pri AS (
             |  SELECT d.doc_id, COALESCE(sc.s, 0) AS score_micro,
             |    COALESCE(sc.s, 0) / 1000000.0
             |      - ln(-ln((('0x' || substr(md5('dsir-g:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
             |               / 4294967296.0)) AS p
             |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
             |SELECT doc_id, score_micro FROM (
             |  SELECT doc_id, score_micro FROM pri
             |  ORDER BY p DESC, CAST(doc_id AS VARCHAR) LIMIT 40)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q165 — markup text extraction (X42): each document wrapped in a
    // deterministic HTML shell (title/style in head, a body script with a
    // bare '<', paragraph tags around the text's lines, an entity-bearing
    // footer div — the syntheticBmpGradient pattern: fixture-derived input
    // that exercises every branch), then run through Markup.extractText.
    // The oracle rebuilds the SAME shell and replays the SAME regex chain
    // stage by stage, so any divergence pinpoints the stage.
    Q("q165_markup_extract",
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>"), col("source"),
          lit("</title><style>p { margin: 0; }</style></head><body>" +
            "<!-- nav --><script>var t = 1 < 2;</script><p>"),
          regexp_replace(col("text"), "\n", "</p><p>"),
          lit("</p><div class=\"footer\">Contact &amp; Legal &lt;info&gt;</div></body></html>"))
        t(s, dir, "documents")
          .select(col("doc_id"), Markup.extractText(html).as("clean_text"))
          .orderBy("doc_id")
      },
      Some {
        val shell = "'<html><head><title>' || source || " +
          "'</title><style>p { margin: 0; }</style></head><body>" +
          "<!-- nav --><script>var t = 1 < 2;</script><p>' || " +
          "replace(text, chr(10), '</p><p>') || " +
          "'</p><div class=\"footer\">Contact &amp; Legal &lt;info&gt;</div></body></html>'"
        s"""WITH ${dMarkupCtes(shell)}
           |SELECT doc_id, x AS clean_text FROM m11
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q166 — web-curation e2e (X42 ∘ X1b ∘ X37, the crawl shape): HTML in,
    // training text out. Extract (q165's shell — whose footer div becomes
    // an IDENTICAL boilerplate line in every document), then line-level
    // dedup strips that footer corpus-wide except its first occurrence
    // (the reason extraction emits block boundaries as newlines), then the
    // Gopher gate keeps documents that still read like prose. One oracle
    // replays shell → regex chain → line contest → reassembly → rules.
    Q("q166_web_curation_e2e",
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>"), col("source"),
          lit("</title><style>p { margin: 0; }</style></head><body>" +
            "<!-- nav --><script>var t = 1 < 2;</script><p>"),
          regexp_replace(col("text"), "\n", "</p><p>"),
          lit("</p><div class=\"footer\">Contact &amp; Legal &lt;info&gt;</div></body></html>"))
        val extracted = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), Markup.extractText(html).as("text"))
        // re-spread after the line contest: AQE coalesces dedupLines'
        // reassembly shuffle to one tiny partition, which would serialize
        // the lambda-heavy rule stage; the checkpoint pin is load-bearing —
        // predicate pushdown substitutes the gopher keep filter through a
        // bare repartition and runs it in that single partition anyway.
        // §5 scale note: localCheckpoint blocks are executor-pinned and
        // unrecoverable on executor loss — acceptable for one bounded
        // query; use a reliable checkpoint dir where a retry is not an
        // option.
        TextStats.gopherFlagsBound(
            spread(s, Dedup.dedupLines(extracted, "doc_id", "text"))
              .localCheckpoint(true),
            col("clean_text"), "__g", minWords = 20,
            stopwords = Seq("a", "the"))
          .filter(col("__g.keep"))
          .select(col("doc_id"),
            TextStats.tokenCount(col("clean_text")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val shell = "'<html><head><title>' || source || " +
          "'</title><style>p { margin: 0; }</style></head><body>" +
          "<!-- nav --><script>var t = 1 < 2;</script><p>' || " +
          "replace(text, chr(10), '</p><p>') || " +
          "'</p><div class=\"footer\">Contact &amp; Legal &lt;info&gt;</div></body></html>'"
        s"""WITH ${dMarkupCtes(shell)},
           |lines AS (
           |  SELECT doc_id, unnest(range(len(parts))) AS pos, unnest(parts) AS ln
           |  FROM (SELECT doc_id, string_split(x, chr(10)) AS parts FROM m11)),
           |kept AS (
           |  SELECT doc_id, pos, ln FROM (
           |    SELECT *, row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn
           |    FROM lines)
           |  WHERE rn = 1 OR trim(ln) = ''),
           |cleaned AS (
           |  SELECT d.doc_id, coalesce(k.t, '') AS text
           |  FROM documents d LEFT JOIN (
           |    SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS t
           |    FROM kept GROUP BY doc_id) k USING (doc_id)),
           |tk AS (SELECT doc_id, text, $dTok AS tk FROM cleaned),
           |${dGopherSt(Seq("a", "the"))}
           |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens FROM st
           |WHERE ${dGopherKeep(20)}
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q167 — character-entropy gibberish signal (X43): the exact integer
    // micro-nat·char entropy sum per document (see charEntropySumMicro's
    // scaladoc), entirely row-local — no explode, no shuffle. The oracle
    // replays the identical per-distinct-char arithmetic with a list
    // comprehension over substr.
    Q("q167_char_entropy",
      (s, dir) => {
        spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), length(col("text")).as("n_chars"),
            TextStats.charEntropySumMicro(col("text")).as("ent_sum_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH cs AS (
             |  SELECT doc_id, len(text) AS n,
             |    [substr(text, i, 1) for i in range(1, len(text) + 1)] AS c
             |  FROM documents)
             |SELECT doc_id, CAST(n AS INTEGER) AS n_chars,
             |  CAST(COALESCE(list_sum(list_transform(list_distinct(c), ch ->
             |    len(list_filter(c, x -> x = ch)) *
             |    CAST(round(1000000 * ln(n * 1.0 / len(list_filter(c, x -> x = ch)))) AS BIGINT))), 0) AS BIGINT)
             |    AS ent_sum_micro
             |FROM cs
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q168 — per-source top-fraction quality gate (X44): keep each
    // source's best 3/10 of documents by quality score — the percentile
    // gate that preserves the source mixture where a single global
    // threshold would gut weak sources. Exact rational rank arithmetic;
    // the oracle replays the same window with the same tie-break.
    Q("q168_top_fraction_per_source",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextStats.qualityScore(col("text")).as("q"))
        Ops.keepTopFractionPerGroup(docs, Seq("source"), col("q"),
            col("doc_id"), num = 3, den = 10)
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (
             |  SELECT doc_id, source, $dQuality AS q FROM documents),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY source
             |             ORDER BY q DESC, doc_id) AS rk,
             |         count(*) OVER (PARTITION BY source) AS n
             |  FROM scored)
             |SELECT doc_id, source, q FROM ranked
             |WHERE rk * 10 <= n * 3
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q169 — small-file compaction (X45): documents staged as 24 tiny
    // files (the post-incremental-append degradation every lifecycle sink
    // — q142/q161 — accretes), then rewritten by Layout.compact into few
    // target-sized files via an exchange-free coalesce (LayoutSpec pins
    // the 40→2 packing arithmetic and the no-shuffle read plan; the
    // in-query require pins that the rewrite actually merged here). The
    // oracle checks the invariant that defines the operator: compaction
    // is content-IDENTITY — the rewritten table is row-for-row the input.
    Q("q169_compaction",
      (s, dir) => {
        val work = workDir("q169")
        val src = work.resolve("src").toString
        val dst = work.resolve("dst").toString
        t(s, dir, "documents").repartition(24).write.parquet(src)
        // derive targetBytes from the staged input instead of a fixed 8MB:
        // a fixed target couples the filesAfter<filesBefore require to the
        // fixture scale (at a SF where the input tops ~192MB, 8MB targets
        // would compute n>=24 and coalesce(24) merges nothing). Half the
        // staged bytes always packs 24 -> <=2 files regardless of SF.
        val stagedBytes = {
          val p = new org.apache.hadoop.fs.Path(src)
          val fs = p.getFileSystem(s.sessionState.newHadoopConf())
          fs.getContentSummary(p).getLength
        }
        val stats = graft.ops.Layout.compact(s, src, dst,
          targetBytes = math.max(1L, stagedBytes / 2))
        require(stats.filesAfter < stats.filesBefore,
          s"compaction did not reduce file count: $stats")
        Parquet.scan(s, dst)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q170 — cluster-stratified diversity sample (X46): the SemDeDup-paper
    // companion move — instead of deleting redundancy, CAP it: assign every
    // embedding to its nearest IVF cell (X3's literal codebook, map-only)
    // and keep a deterministic hash-ordered reservoir of 10 per cell
    // (X6's retry-safe contract). A uniform sample of a skewed corpus
    // reproduces the skew; a per-cell cap yields cluster-balanced
    // coverage — at 100 TB this is one map stage + one shuffle on the
    // cell key. The oracle replays cell argmax (the q155 CTE) and the
    // md5-order window verbatim.
    Q("q170_diversity_sample",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .withColumn("cell",
            Similarity.ivfCellAssign(col("embedding"), ivfCentroids))
        Sampling.sampleKPerGroup(emb, Seq("cell"), col("vec_id"), k = 10,
            seed = "s170")
          .select(col("vec_id"), col("cell"))
          .orderBy("vec_id")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cellv AS (SELECT vec_id, ${dIvfNegScores("v")} AS ns FROM c),
             |cell AS (SELECT vec_id,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv)
             |SELECT vec_id, cell FROM (
             |  SELECT vec_id, cell,
             |    row_number() OVER (PARTITION BY cell
             |      ORDER BY md5('s170:' || CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) AS rn
             |  FROM cell)
             |WHERE rn <= 10
             |ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q171 — mojibake repair (X47, the ftfy core case): fixture text is
    // accent-enriched into "clean" UTF-8 (e→é plus a suffix exercising
    // the punctuation rows), corrupted by the EXACT byte-level transform
    // a broken producer applies (UTF-8 bytes re-read as CP1252 — the
    // swapped repair table, “ before – so –'s corrupt form isn't
    // re-corrupted), then repaired by Markup.fixMojibake. The repaired
    // text itself sits under the hash next to a roundtrip flag, and the
    // oracle replays enrich, corrupt, and repair chains chr()-by-chr()
    // from the SAME Scala table — no literal-encoding hazard can drift
    // the two engines apart.
    Q("q171_mojibake_repair",
      (s, dir) => {
        val suffix = " — it’s “fine”… à 30° «déjà vu»"
        val clean = replace(
          concat(col("text"), lit(suffix)), lit("e"), lit("é"))
        val corrupt = Markup.mojibakeTable.foldLeft(clean) {
          case (acc, (corr, fixed)) => replace(acc, lit(fixed), lit(corr))
        }
        t(s, dir, "documents")
          .select(col("doc_id"),
            Markup.fixMojibake(corrupt).as("repaired"),
            (length(corrupt) - length(clean)).as("n_bad"),
            (Markup.fixMojibake(corrupt) === clean).as("roundtrip"))
          .orderBy("doc_id")
      },
      Some {
        val enrich = s"replace(text || ${dChrs(" — it’s “fine”… à 30° «déjà vu»")}, 'e', chr(233))"
        val corrupt = Markup.mojibakeTable.foldLeft(enrich) {
          case (acc, (corr, fixed)) =>
            s"replace($acc, ${dChrs(fixed)}, ${dChrs(corr)})"
        }
        val repair = Markup.mojibakeTable.foldLeft("corrupt") {
          case (acc, (corr, fixed)) =>
            s"replace($acc, ${dChrs(corr)}, ${dChrs(fixed)})"
        }
        s"""WITH base AS (SELECT doc_id, $enrich AS clean, $corrupt AS corrupt
           |              FROM documents)
           |SELECT doc_id, $repair AS repaired,
           |  CAST(len(corrupt) - len(clean) AS INT) AS n_bad,
           |  $repair = clean AS roundtrip
           |FROM base ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q172 — per-language perplexity tiers (X48, the CCNet head/middle/
    // tail split): every document ranked by q105's interpolated-bigram
    // fluency WITHIN its language and ntile(3)'d — tier 1 is the fluent
    // "head", tier 3 the garbled "tail". The per-language window is the
    // operator's point (a global threshold conflates languages); the
    // oracle reuses q105's exact CTE chain (one definition, dBigramLpCtes)
    // and replays the same (score desc, doc_id) ntile.
    Q("q172_perplexity_tiers",
      (s, dir) =>
        graft.text.LanguageModel.perplexityTiers(
            t(s, dir, "documents"), "doc_id", col("text"), "lang")
          .select(col("doc_id"), col("lang"), col("mean_log2_prob"),
            col("tier"))
          .orderBy("doc_id"),
      Some(s"""WITH $dBigramLpCtes,
             |score AS (SELECT doc_id, count(*) AS n_transitions,
             |    round(CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             |      AS mean_log2_prob
             |  FROM lp GROUP BY doc_id)
             |SELECT s.doc_id, d.lang, s.mean_log2_prob,
             |  CAST(ntile(3) OVER (PARTITION BY d.lang
             |    ORDER BY s.mean_log2_prob DESC, s.doc_id) AS INTEGER) AS tier
             |FROM score s JOIN documents d ON s.doc_id = d.doc_id
             |ORDER BY s.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q173 — runtime Bloom-pruned selective join (X49): revenue of urgent
    // orders' line items, with the big side pre-filtered through a Bloom
    // sketch of the urgent order keys BEFORE its shuffle — the move that
    // remains when the small side out-grows broadcast but its key set
    // sketches into a few MB. Exactness is the operator's contract (a
    // Bloom "no" is definitive; false positives fall out at the join), so
    // the oracle is simply the UNPRUNED join — value-identical by
    // construction. OpsSpec pins the plan: the bloom_might_contain
    // predicate sits below the big side's exchange.
    Q("q173_bloom_pruned_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("l_orderkey"))
        Ops.bloomPrunedJoin(li, urgent, Seq("l_orderkey"),
            expectedItems = 100000L)
          .groupBy(col("l_returnflag"))
          .agg(Ops.sumDec(col("l_extendedprice")).as("urgent_revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS urgent_revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q174 — CDC change-log apply (X50): a synthesized binlog over orders
    // — updates doubling 10% of prices, deletes removing another 10%, a
    // second-seq delete overriding the update on the %100==1 keys (the
    // last-op-wins contract made observable), and inserts minting new
    // keys — compacted and merged by Ops.cdcApply. The log-sized window +
    // one anti-join is the whole apply; the oracle replays compaction
    // (row_number over seq DESC) and the three-way merge relationally.
    Q("q174_cdc_apply",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val nulls = Seq(lit(null).cast("bigint").as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"))
        val u = base.filter(col("o_orderkey") % 10 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit(1L).as("seq"), lit("U").as("op"))
        val d = base.filter(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey") +: nulls :+
            lit(1L).as("seq") :+ lit("D").as("op"): _*)
        val d2 = base.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey") +: nulls :+
            lit(2L).as("seq") :+ lit("D").as("op"): _*)
        val ins = base.filter(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit(1L).as("seq"), lit("I").as("op"))
        val log = u.unionByName(d).unionByName(d2).unionByName(ins)
        Ops.cdcApply(base, log, Seq("o_orderkey"), "seq", "op")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
             |log AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
             |         1 AS seq, 'U' AS op
             |  FROM base WHERE o_orderkey % 10 = 1
             |  UNION ALL
             |  SELECT o_orderkey, NULL, NULL, 1, 'D' FROM base WHERE o_orderkey % 10 = 2
             |  UNION ALL
             |  SELECT o_orderkey, NULL, NULL, 2, 'D' FROM base WHERE o_orderkey % 100 = 1
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice, 1, 'I'
             |  FROM base WHERE o_orderkey % 10 = 3),
             |last AS (SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |               ORDER BY seq DESC, op) AS rn
             |    FROM log) WHERE rn = 1)
             |SELECT o_orderkey, o_custkey, o_totalprice FROM base
             |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_totalprice FROM last WHERE op <> 'D'
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q175 — cross-source quantile score calibration (X51): raw quality
    // scores are not comparable across sources (each source has its own
    // score distribution — a 0.5 from a clean source outranks a 0.5 from
    // a noisy one), so calibrate by QUANTILE MAPPING: each doc's
    // within-source percent_rank (ties share a rank — equal scores MUST
    // calibrate equally) looks up the score at that percentile in a
    // designated reference source (src0), step-function interpolation
    // (largest reference percentile ≤ the doc's). After calibration one
    // global threshold means the same thing everywhere. Shape: ONE
    // source-keyed window + a broadcast reference array probed by an
    // array HOF — map-only after the window; at 100 TB the exact
    // reference array becomes a KLL sketch (X27), this is the
    // oracle-checkable exact face. The oracle replays the window and the
    // lookup via DuckDB's ASOF JOIN (identical step-function semantics).
    Q("q175_quantile_calibration",
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextStats.qualityScore(col("text")).as("q"))
        // the ops-layer exact face (Calibrate.quantileCalibrate): one
        // source-keyed window materialized once for its two consumers,
        // reference rows collapsed to a broadcast array, map-only probe
        graft.ops.Calibrate.quantileCalibrate(scored, col("source"),
            col("q"), refSource = "src0")
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (SELECT doc_id, source, $dQuality AS q FROM documents),
             |p AS (SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY q) AS pct
             |      FROM scored),
             |ref AS (SELECT pct AS pr, q AS qr FROM p WHERE source = 'src0')
             |SELECT p.doc_id, p.source, p.q, p.pct, r.qr AS q_cal
             |FROM p ASOF JOIN ref r ON p.pct >= r.pr
             |ORDER BY p.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q176 — deterministic negative sampling (X52): three negatives per
    // document for contrastive-pair construction — every draw a pure md5
    // function of (seed, anchor, draw index), anchor-exclusion structural
    // (bucket runner-up when the head is the anchor), the buckets-sized
    // representative table broadcast so the anchor side never shuffles.
    // The oracle replays bucket assignment, per-bucket md5 election, and
    // the head/runner-up choice end to end.
    Q("q176_negative_samples",
      (s, dir) =>
        Sampling.negativeSamples(
            t(s, dir, "documents").select("doc_id"), "doc_id",
            k = 3, buckets = 16, seed = "s176")
          .orderBy("doc_id", "neg_idx"),
      Some("""WITH c AS (SELECT doc_id FROM documents),
             |b AS (SELECT doc_id AS cid,
             |        ('0x' || substr(md5('s176:b:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 16 AS bk
             |      FROM c),
             |r AS (SELECT bk, cid, row_number() OVER (PARTITION BY bk
             |        ORDER BY md5('s176:o:' || CAST(cid AS VARCHAR)), CAST(cid AS VARCHAR)) AS rn
             |      FROM b),
             |reps AS (SELECT bk, max(CASE WHEN rn = 1 THEN cid END) AS c1,
             |                max(CASE WHEN rn = 2 THEN cid END) AS c2
             |         FROM r WHERE rn <= 2 GROUP BY bk),
             |a AS (SELECT doc_id, CAST(j AS INTEGER) AS neg_idx,
             |        ('0x' || substr(md5('s176:p:' || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 8))::UBIGINT % 16 AS bk
             |      FROM c, generate_series(0, 2) t(j))
             |SELECT a.doc_id, a.neg_idx,
             |  CASE WHEN reps.c1 <> a.doc_id THEN reps.c1 ELSE reps.c2 END AS neg_id
             |FROM a JOIN reps USING (bk)
             |WHERE CASE WHEN reps.c1 <> a.doc_id THEN reps.c1 ELSE reps.c2 END IS NOT NULL
             |ORDER BY a.doc_id, a.neg_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q177 — per-source boilerplate template mining (X53): every doc gets
    // a per-source footer (the site-chrome fixture), and templateGrams
    // surfaces each source's top recurring word-3-grams by document
    // frequency — the inspection step that seeds per-site removal rules
    // where X1b's exact line dedup needs lines to match verbatim. The
    // minDf filter runs BEFORE the per-source window (the scale move: df
    // frames are vocabulary-sized, boilerplate has high df). The oracle
    // replays gram construction, per-doc distinct, df counting and the
    // (df desc, gram) window.
    Q("q177_template_mining",
      (s, dir) => {
        val withFooter = t(s, dir, "documents")
          .withColumn("text", concat(col("text"), lit(" copyright "),
            col("source"), lit(" all rights reserved contact admin")))
        TextStats.templateGrams(withFooter, "source", col("text"),
            n = 3, minDf = 3L, k = 5)
          .orderBy("source", "rank")
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
             |    text || ' copyright ' || source || ' all rights reserved contact admin' AS text
             |  FROM documents),
             |tk AS (SELECT doc_id, source, $dTok AS tk FROM d),
             |g AS (SELECT DISTINCT doc_id, source,
             |        unnest([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS gram
             |      FROM tk WHERE len(tk) >= 3),
             |dfreq AS (SELECT source, gram, count(*) AS df FROM g
             |          GROUP BY source, gram HAVING count(*) >= 3)
             |SELECT source, gram, df, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY source
             |           ORDER BY df DESC, gram) AS rank
             |  FROM dfreq)
             |WHERE rank <= 5
             |ORDER BY source, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q178 — audio perceptual fingerprints (X54, the q146 move at sample
    // depth): REAL PCM decode of id-minted clips → 64 equal frames →
    // exact integer frame energies → 63 energy-delta sign bits. The
    // oracle rebuilds the sample stream, the ⌊i·64/n⌋ framing, the
    // energies and every bit arithmetically — container parse, byte
    // order, and the frame map all sit under the hash.
    Q("q178_audio_fingerprint",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 5)
          .select(col("doc_id")).as[Long]
          .map(id => (id, Multimodal.syntheticWavPattern(
            8000, ((id % 2) + 1).toInt, (120 + (id % 40) * 5).toInt,
            ((id % 7) * 1000).toInt)))
          .toDF("doc_id", "payload")
        Multimodal.audioFingerprintPartitions(media, "doc_id", "payload")
          .orderBy("doc_id")
      },
      Some("""WITH clip AS (SELECT doc_id, (doc_id % 2) + 1 AS ch,
             |    120 + (doc_id % 40) * 5 AS fr, (doc_id % 7) * 1000 AS seed
             |  FROM documents WHERE doc_id % 10 = 5),
             |s AS (SELECT doc_id, ((seed + 3 * k) % 65536) - 32768 AS v,
             |        (k * 64) // (fr * ch) AS frame
             |      FROM clip, generate_series(0, 629) t(k) WHERE k < fr * ch),
             |e AS (SELECT doc_id, frame, sum(CAST(v AS BIGINT) * v) AS en
             |      FROM s GROUP BY doc_id, frame)
             |SELECT a.doc_id,
             |  CAST(sum(CASE WHEN b.en > a.en
             |           THEN CAST(1 AS BIGINT) << CAST(a.frame AS INTEGER)
             |           ELSE 0 END) AS BIGINT) AS fp
             |FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.frame = a.frame + 1
             |GROUP BY a.doc_id
             |ORDER BY a.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q179 — audio near-dup pairs over X54 fingerprints (the q147 move
    // for audio): clip parameters derive from doc_id div 20, so id pairs
    // (20g+5, 20g+15) mint IDENTICAL clips — Hamming 0 by construction —
    // and the fingerprint's Hamming-locality contract lets the EXISTING
    // quarter-blocked SimHash join find them unchanged. The oracle
    // brute-forces all pairs at bit_count(xor) ≤ 3 — recall exactness is
    // the claim under test.
    Q("q179_audio_near_dup",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val media = t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 5)
          .select(col("doc_id")).as[Long]
          .map { id =>
            val g = id / 20
            (id, Multimodal.syntheticWavPattern(
              8000, ((g % 2) + 1).toInt, (150 + (g % 30) * 7).toInt,
              ((g % 11) * 500).toInt))
          }
          .toDF("doc_id", "payload")
        val sigs = Multimodal.audioFingerprintPartitions(media, "doc_id", "payload")
          .select(col("doc_id"), col("fp").as("sig"))
        Dedup.simHashPairsOnSigs(sigs, "doc_id", maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH clip AS (SELECT doc_id, ((doc_id // 20) % 2) + 1 AS ch,
             |    150 + ((doc_id // 20) % 30) * 7 AS fr, ((doc_id // 20) % 11) * 500 AS seed
             |  FROM documents WHERE doc_id % 10 = 5),
             |s AS (SELECT doc_id, ((seed + 3 * k) % 65536) - 32768 AS v,
             |        (k * 64) // (fr * ch) AS frame
             |      FROM clip, generate_series(0, 765) t(k) WHERE k < fr * ch),
             |e AS (SELECT doc_id, frame, sum(CAST(v AS BIGINT) * v) AS en
             |      FROM s GROUP BY doc_id, frame),
             |fp AS (SELECT a.doc_id,
             |    CAST(sum(CASE WHEN b.en > a.en
             |             THEN CAST(1 AS BIGINT) << CAST(a.frame AS INTEGER)
             |             ELSE 0 END) AS BIGINT) AS fp
             |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.frame = a.frame + 1
             |  GROUP BY a.doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q180 — per-language tokenizer fertility (X28's evaluation face):
    // REAL BPE tokens per whitespace word and characters per BPE token,
    // by language — the metric that decides whether a tokenizer is fit
    // for a multilingual mixture (high-fertility languages pay more
    // sequence length per word, skewing both cost and mixing weights).
    // Integer count sums, two exact ratios rounded once — one partial-
    // aggregated pass over the corpus.
    Q("q180_tokenizer_fertility",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "documents")
          .select(col("lang"),
            TextStats.bpeTokenCount(col("text"), bpeMerges).as("bpe"),
            TextStats.tokenCount(col("text")).as("ws"),
            length(regexp_replace(col("text"), "\\s", "")).as("chars"))
          .groupBy(col("lang"))
          .agg(sum(col("bpe")).as("n_bpe"), sum(col("ws")).as("n_words"),
            sum(col("chars")).as("n_chars"))
          .select(col("lang"), col("n_bpe"), col("n_words"), col("n_chars"),
            round(col("n_bpe").cast("double") / col("n_words"), 6).as("fertility"),
            round(col("n_chars").cast("double") / col("n_bpe"), 6).as("chars_per_token"))
          .orderBy("lang")
      },
      Some(s"""WITH c AS (SELECT lang,
             |    CAST($dBpeCount AS BIGINT) AS bpe,
             |    CAST(coalesce(len($dTok), 0) AS BIGINT) AS ws,
             |    CAST(coalesce(len(regexp_replace(text, '\\s', '', 'g')), 0) AS BIGINT) AS chars
             |  FROM documents),
             |a AS (SELECT lang, sum(bpe) AS n_bpe, sum(ws) AS n_words,
             |        sum(chars) AS n_chars
             |      FROM c GROUP BY lang)
             |SELECT lang, CAST(n_bpe AS BIGINT) AS n_bpe,
             |  CAST(n_words AS BIGINT) AS n_words, CAST(n_chars AS BIGINT) AS n_chars,
             |  round(CAST(n_bpe AS DOUBLE) / n_words, 6) AS fertility,
             |  round(CAST(n_chars AS DOUBLE) / n_bpe, 6) AS chars_per_token
             |FROM a ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q181 — LOCF gauge imputation (X55): every third event's value goes
    // missing (the sensor-dropout fixture) and TimeSeries.locf carries
    // each user's most recent observation forward — leading nulls stay
    // null (LOCF never invents data). One keyed window; the (ts,
    // event_id) tie-break makes "most recent" well-defined under equal
    // timestamps. The oracle is DuckDB's IGNORE NULLS last_value over the
    // identical frame.
    Q("q181_locf_impute",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .withColumn("v", when(col("event_id") % 3 === 0, lit(null))
            .otherwise(col("value")))
        graft.ops.TimeSeries.locf(ev, Seq("user_id"), "ts", Seq("v"),
            tieBreak = Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("v"))
          .orderBy("event_id")
      },
      Some("""WITH g AS (SELECT event_id, user_id, ts,
             |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
             |  FROM events)
             |SELECT event_id, user_id,
             |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
             |FROM g ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q182 — rolling k-sigma anomaly flags (X56): each event judged
    // against its user's TRAILING 24 observations (current row excluded —
    // a spike must not mask itself), in the X17 exact-integer identity
    // (n·x−S)² > k²(n·Q−S²) over integer cents, run in DECIMAL(38,0) so
    // the squared window sums never overflow. Under-8-observation rows
    // flag NULL (unknown, not normal). The oracle replays the identical
    // frame arithmetic in HUGEINT.
    Q("q182_rolling_outliers",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
        graft.ops.TimeSeries.rollingOutliers(ev, Seq("user_id"), "ts",
            col("cents"), lookback = 24, k = 3, minObs = 8,
            tieBreak = Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("cents"),
            col("is_outlier"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT event_id, user_id, ts,
             |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |w AS (SELECT event_id, user_id, cents,
             |    count(cents) OVER fr AS n,
             |    sum(CAST(cents AS HUGEINT)) OVER fr AS s,
             |    sum(CAST(cents AS HUGEINT) * cents) OVER fr AS q2
             |  FROM c
             |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, cents,
             |  CASE WHEN n < 8 THEN NULL
             |       ELSE (n * CAST(cents AS HUGEINT) - s) * (n * CAST(cents AS HUGEINT) - s)
             |            > 9 * (n * q2 - s * s) END AS is_outlier
             |FROM w ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q183 — session transcript assembly (X57): q34's sessions turned into
    // SEQUENCES — each user's 10-minute-gap sessions yield an ordered
    // event-type transcript, the behavioral-corpus construction step
    // (clickstream-to-sequence) counting alone doesn't give. Gap compare
    // in exact epoch microseconds; transcript order (ts, event_id) with
    // the tie-break riding the sort struct natively typed. The oracle
    // replays the lag-gap session algorithm and an ordered string_agg.
    Q("q183_session_transcripts",
      (s, dir) => {
        graft.ops.TimeSeries.assembleSessions(
            Relational.events(s, dir), Seq("user_id"), "ts",
            gapSeconds = 600L, token = col("event_type"),
            tieBreak = Seq("event_id"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |    event_id, event_type FROM events),
             |m AS (SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
             |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |        > 600000000 THEN 1 ELSE 0 END AS nw
             |      FROM e),
             |sx AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
             |         ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |       FROM m)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             |  string_agg(event_type, ' > ' ORDER BY ts, event_id) AS transcript
             |FROM sx GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q185 — hard-negative mining (X58, X52's counterpart): for each of
    // the first 30 vectors, the 3 most cosine-similar vectors carrying a
    // DIFFERENT label — the semantically-close wrong answers that shape a
    // contrastive margin, shipped with the neighbor's label as training
    // triples. Probe set broadcast, corpus never shuffled (the q30
    // shape + a cross-label gate ahead of the dot product). The oracle
    // brute-forces the cross-label cosine ranking.
    Q("q185_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
            emb.filter(col("vec_id") < 30), k = 3)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
             |          FROM embeddings WHERE vec_id < 30),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS cl
             |      FROM embeddings),
             |s AS (SELECT query_id, neighbor_id, cl AS neg_label,
             |        round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
             |      FROM q CROSS JOIN c
             |      WHERE ql IS NOT NULL AND cl IS NOT NULL AND ql <> cl)
             |SELECT query_id, neighbor_id, neg_label, sim, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
             |WHERE rn <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q186 — training-mixture e2e (the MIXING family's q152: stage WIRING
    // under one hash, not just stage semantics): temperature rebalancing
    // toward share ∝ n^0.5 per language (X13) → keep each source's best
    // half by quality (X44) → deterministic 1.5× up-sampling of the
    // survivors (X30) — the three mixture controls a real pre-training
    // data recipe composes, in their production order (rebalance the raw
    // pool, gate on quality, then repeat what survived). Every stage is a
    // pure hash/window function of its input, so the oracle replays the
    // full composition from the shared fragments.
    Q("q186_mixture_e2e",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rb = Sampling.rebalanceByTemperature(docs, col("lang"),
          col("doc_id"), alpha = 0.5, seed = "s186a")
        val kept = Ops.keepTopFractionPerGroup(
          rb.select(col("doc_id"), col("lang"), col("source"),
            TextStats.qualityScore(col("text")).as("q")),
          Seq("source"), col("q"), col("doc_id"), num = 1, den = 2)
        Sampling.upsampleByRate(
            kept.select("doc_id", "lang", "source"),
            col("doc_id"), rate = 1.5, seed = "s186b")
          .orderBy("doc_id", "copy_idx")
      },
      Some(s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |r AS (SELECT lang,
             |        CAST(floor(power(CAST(n AS DOUBLE) / (SELECT min(n) FROM n), -0.5)
             |             * 4294967296.0) AS BIGINT) AS keep_max
             |      FROM n),
             |rb AS (SELECT d.* FROM documents d JOIN r USING (lang)
             |       WHERE ('0x' || substr(md5('s186a:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
             |             < keep_max),
             |scored AS (SELECT doc_id, lang, source, $dQuality AS q FROM rb),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY source
             |             ORDER BY q DESC, doc_id) AS rk,
             |           count(*) OVER (PARTITION BY source) AS cnt
             |           FROM scored),
             |kept AS (SELECT doc_id, lang, source FROM ranked WHERE rk * 2 <= cnt),
             |c AS (SELECT doc_id, lang, source,
             |        1 + CASE WHEN ${dKeep("s186b", 0.5)} THEN 1 ELSE 0 END AS nn
             |      FROM kept)
             |SELECT doc_id, lang, source, CAST(u AS BIGINT) AS copy_idx
             |FROM c, unnest(range(nn)) AS t(u)
             |ORDER BY doc_id, copy_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q187 — STREAMING CDC lifecycle (X50 meets §2.7, the q158 pattern
    // for change logs): two binlog batches arrive as micro-batches and
    // each applies onto a VERSIONED table state (cdcApply reads version
    // N, writes version N+1 — never overwriting the directory a lazy
    // read still references). The version lifecycle is owned by the
    // engine-level handle (Table.writeVersion/readLatest — commit-by-
    // rename, immutable version dirs), not hand-rolled staging. Batch 2
    // deletes keys batch 1 UPDATED, so the final state proves the apply
    // chained through the evolved version, not the original base. The
    // oracle replays both applies relationally; streaming end state ≡
    // batch replay.
    Q("q187_streaming_cdc_lifecycle",
      (s, dir) => {
        val (base, log1, log2) = cdcFixture(s, dir)
        val work = workDir("q187")
        val state = graft.core.Table(s, work.toString, "cdc_state")
        state.writeVersion(base)
        val onBatch: (DataFrame, Long) => Unit = (batch, _) => {
          state.writeVersion(Ops.cdcApply(state.readLatest, batch,
            Seq("o_orderkey"), "seq", "op"))
        }
        Staging.fileStream(work, log1, log2).drain(onBatch)
        require(state.versions == Seq(0L, 1L, 2L),
          s"expected three committed versions, got ${state.versions}")
        state.readLatest.orderBy("o_orderkey")
      },
      Some(cdcLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q188 — declared-vs-detected language agreement (X4's label-noise
    // audit face): per (source, declared lang), how often the n-gram
    // detector agrees with the metadata — crawl metadata lies (wrong
    // declared langs poison per-language mixing, tiering and LM training),
    // and this per-slice agreement table is how the lie is found. One
    // map-only detection pass + one partial-aggregated rollup; exact
    // rational agreement (agree·1e6 div n, integer) so the rate is
    // engine-portable without float division.
    Q("q188_lang_agreement",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("source"), col("lang"),
            (TextStats.langId(col("text")) === col("lang"))
              .cast("long").as("ok"))
        d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_agree"))
          .withColumn("agree_ppm", expr("n_agree * 1000000 DIV n_docs"))
          .orderBy("source", "lang")
      },
      Some {
        val profiles = TextStats.defaultProfiles.sortBy(_._1)
        val values = profiles.map { case (lang, words) =>
          s"('$lang', [${words.map(w => s"'$w'").mkString(", ")}])"
        }.mkString(",\n    ")
        s"""WITH toks AS (SELECT doc_id, source, lang,
           |    ${dTok.replace("(text,", "(lower(text),")} AS tk FROM documents),
           |scored AS (
           |  SELECT doc_id, source, lang, p.cand,
           |    len(list_filter(tk, x -> list_contains(p.words, x))) AS score
           |  FROM toks CROSS JOIN (VALUES
           |    $values) p(cand, words)),
           |pred AS (SELECT doc_id, source, lang,
           |    CASE WHEN cand = lang THEN 1 ELSE 0 END AS ok FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |             ORDER BY score DESC, cand) AS rn FROM scored)
           |  WHERE rn = 1)
           |SELECT source, lang, count(*) AS n_docs,
           |  CAST(sum(ok) AS BIGINT) AS n_agree,
           |  CAST(sum(ok) AS BIGINT) * 1000000 // count(*) AS agree_ppm
           |FROM pred GROUP BY source, lang
           |ORDER BY source, lang""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q189 — Zipf-slope corpus diagnostic (X22's text face): the log-log
    // rank-frequency slope of the top-200 tokens — natural language sits
    // near −1, template/spam corpora bend away, so the slope is a one-
    // number corpus-health signal. Shape: vocabulary-sized partial-agg
    // count → bounded top-200 (TakeOrderedAndProject) → rank window over
    // ONLY that bounded frame (a 200-row single partition by design, the
    // codebook convention) → least squares over integer micro-log
    // coordinates, exact long sums, ONE double division at the end (the
    // X43 micro-log determinism argument).
    Q("q189_zipf_slope",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(explode(TextStats.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("tok")).limit(200)
        val ranked = freq.withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        val xy = ranked.select(
          round(lit(1000000.0) * log(col("rank").cast("double")))
            .cast("long").as("x"),
          round(lit(1000000.0) * log(col("freq").cast("double")))
            .cast("long").as("y"))
        xy.agg(count(lit(1)).as("n_points"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("n_points"),
            round((col("n_points") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n_points") * col("sxx") - col("sx") * col("sx")), 6)
              .as("zipf_slope"))
      },
      Some(s"""WITH f AS (SELECT tok, count(*) AS freq
             |  FROM (SELECT unnest($dTok) AS tok FROM documents) GROUP BY tok),
             |top AS (SELECT tok, freq FROM f ORDER BY freq DESC, tok LIMIT 200),
             |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
             |      FROM top),
             |xy AS (SELECT CAST(round(1000000 * ln(rank)) AS BIGINT) AS x,
             |         CAST(round(1000000 * ln(freq)) AS BIGINT) AS y FROM r),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(x * y) AS BIGINT) AS sxy,
             |        CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
             |SELECT n AS n_points,
             |  round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
             |    AS zipf_slope
             |FROM a""".stripMargin)),

    // ------------------------------------------------------------------
    // q190 — unzip → CSV load under oracle (S1's archive half, previously
    // spec-only): the nation table round-trips through a REAL zip archive
    // — written as headered CSV, zipped with java.util.zip, unpacked by
    // Ingest.unzip (the zip-slip-safe path the download operator feeds),
    // loaded back by Ingest.csvLoad with the explicit schema — and must
    // equal the source exactly. Only the wget half of S1 stays
    // environment-blocked; the archive plumbing is now driver-checked.
    Q("q190_unzip_csv_load",
      (s, dir) => {
        val work = workDir("q190")
        val src = t(s, dir, "nation")
        val csvDir = work.resolve("csv").toString
        src.coalesce(1).write.option("header", "true").csv(csvDir)
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(csvDir))
        val part =
          try listing.filter(p => p.toString.endsWith(".csv")).findFirst().get()
          finally listing.close() // the Staging handle rule
        val zipPath = work.resolve("nation.zip")
        val zos = new java.util.zip.ZipOutputStream(
          java.nio.file.Files.newOutputStream(zipPath))
        try {
          zos.putNextEntry(new java.util.zip.ZipEntry("data/nation.csv"))
          java.nio.file.Files.copy(part, zos)
          zos.closeEntry()
        } finally zos.close()
        val unpacked = work.resolve("unpacked")
        graft.ingest.Ingest.unzip(zipPath, unpacked)
        val dest = Table(s, work.toString, "nation_roundtrip")
        graft.ingest.Ingest.csvLoad(s,
          unpacked.resolve("data/nation.csv").toString, dest, src.schema)
        dest.read.orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey"))
,
    // ------------------------------------------------------------------
    // q191 — IVF cell-occupancy balance (X3's index-health diagnostic):
    // per-cell vector counts under the literal codebook plus each cell's
    // share in exact ppm — a skewed assignment (one hot cell) silently
    // turns IVF probes into near-full scans, and this one aggregation is
    // how the skew is seen before it costs a cluster. Map-only assignment
    // fused into the scan + one cells-sized partial aggregation.
    Q("q191_ivf_cell_balance",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // corpus total rides in-plan as a broadcast 1-row frame — no
        // driver count() (the LanguageModel convention)
        val tot = emb.agg(count(lit(1)).as("__n"))
        emb.withColumn("cell",
            Similarity.ivfCellAssign(col("embedding"), ivfCentroids))
          .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
          .crossJoin(broadcast(tot))
          .withColumn("share_ppm", expr("n_vecs * 1000000 DIV __n"))
          .drop("__n")
          .orderBy("cell")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cellv AS (SELECT vec_id, ${dIvfNegScores("v")} AS ns FROM c),
             |cell AS (SELECT vec_id,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv)
             |SELECT cell, count(*) AS n_vecs,
             |  count(*) * 1000000 // (SELECT count(*) FROM embeddings) AS share_ppm
             |FROM cell GROUP BY cell ORDER BY cell""".stripMargin)),

    // ------------------------------------------------------------------
    // q192 — TYPED document unmarshalling (P8's schema'd face: q19/q35
    // cover path-string extraction and row→JSON; this is JSON→typed
    // struct via from_json with an EXPLICIT schema — malformed documents
    // surface as null fields at parse time instead of corrupting
    // downstream casts). Map-only, fused into the scan; q151's doc_id
    // binning keeps the output deterministic.
    Q("q192_typed_unmarshal",
      (s, dir) => {
        Relational.events(s, dir)
          // parse ONCE into a struct column; both outputs derive from it
          // (two inline from_json copies would pay two JSON parses per row)
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("__p"))
          .select(col("event_id"),
            col("__p").getField("k").as("k"),
            (col("__p").getField("k") % 7 === 0).as("k_div7"))
          .filter(col("event_id") < 2000)
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 = 0 AS k_div7
             |FROM events WHERE event_id < 2000
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q193 — per-source duplication burden (X2's reporting face): what
    // fraction of each source's documents sit in a near-duplicate pair —
    // the number that tells a curator WHICH crawl feed to fix, where the
    // pair list (q27) only says what to delete. Reuses the shared pair
    // artifact; the involved-doc set is pair-list-sized, so the join back
    // to documents broadcasts. Exact integer ppm.
    Q("q193_dup_burden_per_source",
      (s, dir) => {
        val involved = docPairs(s, dir).select(col("id_a").as("doc_id"))
          .unionAll(docPairs(s, dir).select(col("id_b").as("doc_id")))
          .distinct()
          .withColumn("dup", lit(1L))
        t(s, dir, "documents")
          .join(broadcast(involved), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
          .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_docs"))
          .orderBy("source")
      },
      Some(s"""WITH $dShingleCte,
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
             |inv AS (SELECT id_a AS doc_id FROM pairs
             |        UNION SELECT id_b FROM pairs)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM inv)
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM inv)
             |           THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS dup_ppm
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q194 — versioned-table time travel (the engine-level handle behind
    // q187's lifecycle, driven directly): version 0 is the raw customer
    // balance table, version 1 an upsert that doubles every 7th key's
    // balance. The row under the hash reads version 0 AFTER version 1
    // landed and joins it against the latest — the time-travel contract
    // (immutable version dirs, commit-by-rename) is exactly what makes
    // old-state reads safe while new states land, and the oracle replays
    // both faces from the source table. Vacuum refusal and crash-staging
    // invisibility are TableSpec-pinned; this row pins the driver-visible
    // semantics.
    Q("q194_version_time_travel",
      (s, dir) => {
        val work = workDir("q194")
        val state = graft.core.Table(s, work.toString, "cust_versions")
        val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
        val v0 = state.writeVersion(base)
        val updates = base.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"))
        state.writeVersion(Ops.upsert(state.readLatest, updates, Seq("c_custkey")))
        require(state.versions == Seq(0L, 1L),
          s"expected versions 0,1 — got ${state.versions}")
        // nothing vacuumable at keepLast=2; history intact for the read below
        require(state.vacuum(keepLast = 2).isEmpty, "vacuum dropped live history")
        state.readVersion(v0).withColumnRenamed("c_acctbal", "bal_v0")
          .join(state.readLatest.withColumnRenamed("c_acctbal", "bal_v1"),
            Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_acctbal AS bal_v0,
             |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2
             |       ELSE c_acctbal END AS bal_v1
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q195 — incremental ANN index maintenance (the lifecycle face of
    // q155): the IVF+PQ index is BUILT from the even-vec_id half of the
    // corpus, then the odd half arrives as a later batch and is APPENDED
    // — encoded with the EXISTING literal codebooks, map-only, landing as
    // new part files inside the same cell= directories without touching a
    // byte of the original index (IvfPqIndexSpec pins both the no-Exchange
    // encode plan and the old-files-byte-identical invariant). The
    // retrieval then runs over old ∪ new through the unchanged q155 plan
    // (partition pruning doesn't care which batch a file arrived in), and
    // the top-10 must equal a single-shot build over the full corpus —
    // which is exactly what the oracle computes, with each hit's batch
    // parity under the hash proving both batches serve results. After the
    // appends, IvfPqIndex.maintain repacks the accreted cell files
    // (pure-IO coalesce + rename-aside per fragmented cell — the X45
    // hygiene every log-structured index needs) and retrieval runs over
    // the COMPACTED layout, so maintenance content-identity sits under
    // the same hash. Codebook staleness is monitored by q191's
    // cell-balance diagnostic (the documented re-train trigger).
    Q("q195_ivf_pq_incremental",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val tmp = workDir("q195").toString
        val idx = s"$tmp/index"
        graft.sim.IvfPqIndex.build(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", pqCodebooks, ivfCentroids, idx)
        // the odd half arrives as TWO batches — enough appends that every
        // touched cell is fragmented past the maintenance threshold
        graft.sim.IvfPqIndex.append(emb.filter(col("vec_id") % 4 === 1),
          "vec_id", "embedding", pqCodebooks, ivfCentroids, idx)
        graft.sim.IvfPqIndex.append(emb.filter(col("vec_id") % 4 === 3),
          "vec_id", "embedding", pqCodebooks, ivfCentroids, idx)
        val repacked = graft.sim.IvfPqIndex.maintain(s, idx,
          maxFilesPerCell = 1, targetBytes = 64L << 20)
        require(repacked.nonEmpty, "maintenance found nothing to repack")
        val qv = emb.filter(col("vec_id") === 7).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble)
        graft.sim.IvfPqIndex.search(s, idx, emb, "vec_id", "embedding",
            qv, pqCodebooks, ivfCentroids, nProbe = 2, kCand = 30, k = 10)
          .withColumn("batch", (col("vec_id") % 2).cast("int"))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cellv AS (SELECT vec_id, v, ${dIvfNegScores("v")} AS ns FROM c),
             |cell AS (SELECT vec_id, v,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv),
             |qn AS (SELECT v AS qv, ${dIvfNegScores("v")} AS qns FROM c WHERE vec_id = 7),
             |probes AS (SELECT CAST(j - 1 AS INTEGER) AS cell FROM (
             |    SELECT j, row_number() OVER (ORDER BY qns[j], j) AS rn
             |    FROM qn, generate_series(1, ${ivfCentroids.size}) t(j)) WHERE rn <= 2),
             |enc AS (SELECT vec_id, v, cell, ${dPqCodeList("v")} AS code FROM cell),
             |pruned AS (SELECT e.vec_id, e.v, e.cell, e.code
             |           FROM enc e JOIN probes USING (cell)),
             |d AS (SELECT p.vec_id, p.v, p.cell,
             |        round(${dPqAdcDist("qv", "p.code")}, 6) AS dist
             |      FROM pruned p, qn),
             |cand AS (SELECT vec_id, v, cell, dist FROM (
             |    SELECT *, row_number() OVER (ORDER BY dist, vec_id) AS rn FROM d)
             |  WHERE rn <= 30),
             |r AS (SELECT cand.vec_id, cand.cell,
             |        round(list_dot_product(qn.qv, cand.v)
             |          / (sqrt(list_dot_product(qn.qv, qn.qv))
             |             * sqrt(list_dot_product(cand.v, cand.v))), 6) AS sim,
             |        cand.dist
             |      FROM cand, qn)
             |SELECT vec_id, cell, sim, dist,
             |  CAST(vec_id % 2 AS INTEGER) AS batch
             |FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q196 — full curation-mixture e2e (q186 extended with the round-9
    // mixture controls, in production order): temperature-rebalance the
    // raw pool toward share ∝ n^0.5 per language (X13) → drop each
    // language's garbled perplexity tail, tiers 1-2 only (X48) →
    // CALIBRATE quality scores across sources against the src0 reference
    // (X51 — the gate below must compare scores that mean the same thing
    // in every source) → per-source top-half gate ON THE CALIBRATED
    // score (X44) → deterministic 1.5× up-sampling of the survivors
    // (X30). One hash over the whole composition proves the stages
    // commute the way their docs claim; every oracle fragment is the
    // same one the per-stage queries use (q186's rb, q172's
    // dBigramLpCtes chain, q175's ASOF lookup, q168's rational window,
    // q129's dKeep), so e2e wiring and stage semantics cannot drift
    // apart.
    Q("q196_curation_mixture_e2e",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rb = Sampling.rebalanceByTemperature(docs, col("lang"),
          col("doc_id"), alpha = 0.5, seed = "s196a")
        // tiers from the FULL corpus LM (the q172 fragment verbatim):
        // fluency is a corpus-level signal, not a pool-relative one
        val tiers = graft.text.LanguageModel.perplexityTiers(
            docs, "doc_id", col("text"), "lang")
          .filter(col("tier") <= 2).select(col("doc_id"), col("tier"))
        val pool = rb.select(col("doc_id"), col("lang"), col("source"),
            TextStats.qualityScore(col("text")).as("q"))
          .join(tiers, Seq("doc_id"))
        val w = Window.partitionBy(col("source")).orderBy(col("q"))
        // pct feeds the reference aggregation AND the calibration side
        val pct = pool.withColumn("pct", percent_rank().over(w))
          .localCheckpoint()
        val ref = pct.filter(col("source") === "src0")
          .agg(sort_array(collect_list(
            struct(col("pct").as("p"), col("q").as("qr")))).as("ref"))
        val cal = pct.crossJoin(broadcast(ref))
          .withColumn("q_cal",
            element_at(filter(col("ref"),
              e => e.getField("p") <= col("pct")), -1).getField("qr"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("tier").cast("int").as("tier"), col("q_cal"))
        val kept = Ops.keepTopFractionPerGroup(cal, Seq("source"),
          col("q_cal"), col("doc_id"), num = 1, den = 2)
        Sampling.upsampleByRate(kept, col("doc_id"), rate = 1.5,
            seed = "s196b")
          .orderBy("doc_id", "copy_idx")
      },
      Some(s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |r AS (SELECT lang,
             |        CAST(floor(power(CAST(n AS DOUBLE) / (SELECT min(n) FROM n), -0.5)
             |             * 4294967296.0) AS BIGINT) AS keep_max
             |      FROM n),
             |rb AS (SELECT d.* FROM documents d JOIN r USING (lang)
             |       WHERE ('0x' || substr(md5('s196a:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
             |             < keep_max),
             |$dBigramLpCtes,
             |score AS (SELECT doc_id,
             |    round(CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             |      AS mean_log2_prob
             |  FROM lp GROUP BY doc_id),
             |tiers AS (SELECT s.doc_id,
             |    ntile(3) OVER (PARTITION BY d.lang
             |      ORDER BY s.mean_log2_prob DESC, s.doc_id) AS tier
             |  FROM score s JOIN documents d ON s.doc_id = d.doc_id),
             |pool AS (SELECT rb.doc_id, rb.lang, rb.source, $dQuality AS q, t.tier
             |         FROM rb JOIN tiers t ON rb.doc_id = t.doc_id
             |         WHERE t.tier <= 2),
             |p AS (SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY q) AS pct
             |      FROM pool),
             |refq AS (SELECT pct AS pr, q AS qr FROM p WHERE source = 'src0'),
             |cal AS (SELECT p.doc_id, p.lang, p.source,
             |          CAST(p.tier AS INTEGER) AS tier, r2.qr AS q_cal
             |        FROM p ASOF JOIN refq r2 ON p.pct >= r2.pr),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY source
             |             ORDER BY q_cal DESC, doc_id) AS rk,
             |           count(*) OVER (PARTITION BY source) AS cnt
             |           FROM cal),
             |kept AS (SELECT doc_id, lang, source, tier, q_cal
             |         FROM ranked WHERE rk * 2 <= cnt),
             |c AS (SELECT *,
             |        1 + CASE WHEN ${dKeep("s196b", 0.5)} THEN 1 ELSE 0 END AS nn
             |      FROM kept)
             |SELECT doc_id, lang, source, tier, q_cal, CAST(u AS BIGINT) AS copy_idx
             |FROM c, unnest(range(nn)) AS t(u)
             |ORDER BY doc_id, copy_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q197 — streaming RESTART idempotence (the crash-recovery face of
    // q187): after a sink restart, Structured Streaming RE-DELIVERS
    // micro-batches with the same batchIds — a naive versioned sink
    // would double-apply every replayed change log. Here the sink derives
    // its version id from the batchId (v = batchId + 1 over the initial
    // version 0) and commits through Table.writeVersionIfAbsent, with the
    // version directory itself as the exactly-once ledger: the SAME input
    // runs TWICE, the second pass from a fresh checkpoint so both batches
    // replay in full, and every replayed commit must no-op (the apply
    // expression is by-name — a skipped commit never even builds its
    // plan). Version history pinned to exactly [0,1,2]; final state under
    // q187's oracle — byte-identical to the single-run lifecycle.
    Q("q197_streaming_restart_idempotence",
      (s, dir) => {
        val (base, log1, log2) = cdcFixture(s, dir)
        val work = workDir("q197")
        val state = graft.core.Table(s, work.toString, "cdc_state")
        state.writeVersion(base)
        // each apply reads its EXACT input version (batchId), not
        // readLatest — deterministic under any replay interleaving
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          state.writeVersionIfAbsent(batchId + 1,
            Ops.cdcApply(state.readVersion(batchId), batch,
              Seq("o_orderkey"), "seq", "op"))
        }
        val stream = Staging.fileStream(work, log1, log2)
        stream.drain(onBatch, Some(work.resolve("cp1").toString))
        require(state.versions == Seq(0L, 1L, 2L),
          s"first run should commit versions 0,1,2 — got ${state.versions}")
        // the "restart": a fresh checkpoint replays batchIds 0 and 1
        // against the already-evolved state
        stream.drain(onBatch, Some(work.resolve("cp2").toString))
        require(state.versions == Seq(0L, 1L, 2L),
          s"replay must be a no-op — got ${state.versions}")
        state.readLatest.orderBy("o_orderkey")
      },
      Some(cdcLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q198 — URL canonicalization (X61): the crawl-dedup opener. Fixture
    // URLs are derived from (source, doc_id) across four shapes — mixed
    // case + www + default port + tracking params + unsorted params +
    // fragment; https default port; non-default port that must SURVIVE;
    // bare host with empty path — and the oracle replays the FULL generic
    // algorithm (regex split, param filter, sort, reassemble) in SQL, not
    // the per-shape expected strings, so any canonicalization drift on
    // any shape breaks the hash. Map-only: one projection fused into the
    // scan.
    Q("q198_url_canonicalize",
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val url = when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("HTTP://WWW."), col("source"),
              lit(".Example.COM:80/Docs/"), id,
              lit("?UTM_Source=feed&b=2&a=1&Gclid=zz#frag")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("https://"), col("source"), lit(".example.com:443/a/b")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(lit("https://api."), col("source"),
              lit(".example.com:8443/v1?z=9&gclid=abc&y=1")))
          .otherwise(concat(lit("http://"), col("source"), lit(".example.com")))
        t(s, dir, "documents")
          .select(col("doc_id"),
            Url.canonicalizeUrl(url).as("url_c"),
            Url.urlHost(url).as("host"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Docs/' || CAST(doc_id AS VARCHAR) || '?UTM_Source=feed&b=2&a=1&Gclid=zz#frag'
             |      WHEN 1 THEN 'https://' || source || '.example.com:443/a/b'
             |      WHEN 2 THEN 'https://api.' || source || '.example.com:8443/v1?z=9&gclid=abc&y=1'
             |      ELSE 'http://' || source || '.example.com' END AS url
             |  FROM documents),
             |p AS (SELECT doc_id,
             |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hp,
             |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
             |    regexp_extract(url, '^[^#]*\?([^#]*)', 1) AS rawq
             |  FROM f),
             |q AS (SELECT doc_id, scheme, hp,
             |    regexp_replace(hp, '^www\.', '') AS host0,
             |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
             |    list_sort(list_filter(string_split(rawq, '&'),
             |      x -> x <> '' AND NOT starts_with(lower(split_part(x, '=', 1)), 'utm_')
             |        AND lower(split_part(x, '=', 1)) NOT IN ('gclid', 'fbclid', 'msclkid', 'ref'))) AS kept
             |  FROM p)
             |SELECT doc_id,
             |  scheme || '://' ||
             |    (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             |          WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             |          ELSE host0 END) ||
             |    path ||
             |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS url_c,
             |  regexp_replace(regexp_replace(hp, '^www\.', ''), ':[0-9]+$', '') AS host
             |FROM q ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q199 — domain blocklist gating (X61): the join-shaped face —
    // blocked domains live in a TABLE, each URL's host explodes into its
    // dot-suffixes, the suffixes equi-join the broadcast blocklist and
    // matching docs anti-join away. The oracle expresses the SAME
    // semantics through the independent LIKE-suffix formulation, so a
    // suffix-generation bug (off-by-one label, substring-instead-of-label
    // match) cannot hide. Survivors: the two host shapes that neither
    // equal nor sit under a blocked domain.
    Q("q199_domain_blocklist",
      (s, dir) => {
        import s.implicits._
        val rawhost = when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("source"), lit(".spam.biz")))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("www."), col("source"), lit(".example.com")))
          .when(pmod(col("doc_id"), lit(5)) === 2, lit("news.example.com"))
          .when(pmod(col("doc_id"), lit(5)) === 3,
            concat(col("source"), lit(".example.com")))
          .otherwise(lit("spam.biz"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            concat(lit("https://"), rawhost, lit("/p?id="),
              col("doc_id").cast("string")).as("url"))
        val blocklist = Seq("spam.biz", "news.example.com").toDF("domain")
        Url.gateByBlocklist(docs, "doc_id", "url", blocklist, "domain")
          .select(col("doc_id"), Url.urlHost(col("url")).as("host"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    CASE CAST(doc_id % 5 AS INT)
             |      WHEN 0 THEN source || '.spam.biz'
             |      WHEN 1 THEN 'www.' || source || '.example.com'
             |      WHEN 2 THEN 'news.example.com'
             |      WHEN 3 THEN source || '.example.com'
             |      ELSE 'spam.biz' END AS rawhost
             |  FROM documents),
             |h AS (SELECT doc_id, regexp_replace(rawhost, '^www\.', '') AS host FROM f)
             |SELECT doc_id, host FROM h
             |WHERE NOT (host = 'spam.biz' OR host LIKE '%.spam.biz'
             |        OR host = 'news.example.com' OR host LIKE '%.news.example.com')
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q200 — margin-based pair mining (X62, Artetxe & Schwenk ACL'19):
    // embeddings split by vec_id parity into two "corpora", every even
    // vector's top-4 odd neighbors scored by the ratio margin. The oracle
    // recomputes both directions' top-k and the decimal-sum penalties
    // from one symmetric cross-join score CTE — a hub-normalization bug
    // on either side moves a margin and breaks the hash.
    Q("q200_margin_pair_mining",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.marginScores(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
            emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
            k = 4)
          .orderBy("src_id", "tgt_id")
      },
      Some("""WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
             |b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1),
             |sab AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
             |    round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
             |  FROM a CROSS JOIN b),
             |fk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn FROM sab) WHERE rn <= 4),
             |bk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn FROM sab) WHERE rn <= 4),
             |pa AS (SELECT src_id, CAST(sum(CAST(sim AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_a FROM fk GROUP BY src_id),
             |pb AS (SELECT tgt_id, CAST(sum(CAST(sim AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_b FROM bk GROUP BY tgt_id)
             |SELECT f.src_id, f.tgt_id, f.sim,
             |  CASE WHEN abs((pa.avg_a + pb.avg_b) / 2) > 1e-9
             |       THEN round(f.sim / ((pa.avg_a + pb.avg_b) / 2), 6) END AS margin
             |FROM fk f JOIN pa USING (src_id) JOIN pb USING (tgt_id)
             |ORDER BY src_id, tgt_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q201 — k-anonymity audit + suppression (X63, Sweeney 2002): QIs =
    // (market segment, nation, account-balance band); every QI
    // combination's size, its k=4 verdict, and — the suppression face
    // under the same hash — how many rows suppressBelowK actually kept
    // (full group or zero, never a partial: the audit and the suppressor
    // must agree row-for-row or kept_rows diverges from the CASE replay).
    Q("q201_k_anonymity",
      (s, dir) => {
        val cust = t(s, dir, "customer").select(
          col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / 2000).as("band"), col("c_custkey"))
        val audit = Privacy.kAnonymityAudit(cust, Seq("seg", "nat", "band"), k = 4)
        val keptCounts = Privacy.suppressBelowK(cust, Seq("seg", "nat", "band"), k = 4)
          .groupBy("seg", "nat", "band").agg(count(lit(1)).as("kept_rows"))
        audit.join(keptCounts, Seq("seg", "nat", "band"), "left")
          .select(col("seg"), col("nat"), col("band"), col("group_size"),
            col("k_anonymous"),
            coalesce(col("kept_rows"), lit(0L)).as("kept_rows"))
          .orderBy("seg", "nat", "band")
      },
      Some("""WITH g AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
             |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band, count(*) AS group_size
             |  FROM customer GROUP BY 1, 2, 3)
             |SELECT seg, nat, band, group_size, group_size >= 4 AS k_anonymous,
             |  CASE WHEN group_size >= 4 THEN group_size ELSE 0 END AS kept_rows
             |FROM g ORDER BY seg, nat, band""".stripMargin)),

    // ------------------------------------------------------------------
    // q202 — ε-DP noisy counts (X64, Laplace mechanism): per-source doc
    // counts released with ε = 0.5 noise drawn from the md5-uniform of
    // the group key — the sampling family's hash, pushed through the
    // Laplace inverse CDF. The oracle replays hash, CDF, and rounding
    // arithmetic term-for-term, so the noise itself is under the hash,
    // not just the raw counts.
    Q("q202_dp_noisy_counts",
      (s, dir) =>
        Privacy.dpNoisyCounts(t(s, dir, "documents"), col("source"),
            epsilon = 0.5, seed = "s202")
          .orderBy("grp"),
      Some("""WITH c AS (SELECT source AS grp, count(*) AS n FROM documents GROUP BY 1),
             |u AS (SELECT grp, n,
             |    (('0x' || substr(md5('s202:' || grp), 1, 8))::UBIGINT + 0.5) / 4294967296.0 AS u
             |  FROM c)
             |SELECT grp, n,
             |  round(n + (-2.0 * sign(u - 0.5) * ln(1 - 2.0 * abs(u - 0.5))), 6) AS noisy_n
             |FROM u ORDER BY grp""".stripMargin)),

    // ------------------------------------------------------------------
    // q204 — near-dup RESTART idempotence (q197's crash-recovery proof
    // lifted to the near-dup lifecycle, closing the round-10 verdict's
    // one remaining at-least-once sink): the SAME staged input drives
    // q161's ledger lifecycle TWICE, the second pass from a fresh
    // checkpoint so Structured Streaming re-delivers batchIds 0 and 1 in
    // full against the evolved state. Every replayed commit must no-op —
    // `ledgerAppendIfAbsent` is by-name, so a skipped commit never even
    // builds its band-probe plan — and a double-append here would not
    // merely duplicate rows: duplicate band keys fan candidate pairs for
    // every future batch. Ledger ids pinned to exactly 0..2 on both
    // tables after BOTH runs; end state under q161's own oracle —
    // byte-identical to the single-run lifecycle.
    Q("q204_near_dup_restart_idempotence",
      (s, dir) => {
        val work = workDir("q204")
        val (sets, bands, runOnce) = nearDupLedgerSetup(s, dir, work)
        runOnce(work.resolve("cp1").toString)
        require(sets.ledgerMax.contains(2L) && bands.ledgerMax.contains(2L),
          s"first run should commit ledger ids 0..2 — got " +
            s"sets=${sets.ledgerMax}, bands=${bands.ledgerMax}")
        val firstRows = sets.readLedger.count()
        // the "restart": a fresh checkpoint replays batchIds 0 and 1
        runOnce(work.resolve("cp2").toString)
        require(sets.ledgerMax.contains(2L) && bands.ledgerMax.contains(2L),
          s"replay must not advance the ledgers — got " +
            s"sets=${sets.ledgerMax}, bands=${bands.ledgerMax}")
        require(sets.readLedger.count() == firstRows,
          "replay double-appended near-dup state")
        sets.readLedger.filter(col("batch") >= 1)
          .select(col("doc_id"), col("batch"),
            size(col("sh")).cast("long").as("n_grams"))
          .orderBy("doc_id")
      },
      Some(nearDupLifecycleOracleSql)),

    // ------------------------------------------------------------------
    // q205 — time travel by TIMESTAMP + version manifests + age retention
    // (X59 completion): commits ride with a _manifest.json (commit
    // instant, row count, schema fingerprint) renamed in atomically with
    // the data, so "as of yesterday" needs no version id and no second
    // metadata store. Day-0 snapshot, then a day-1 commit that both
    // filters rows AND widens the schema; readAsOf(t0)/readAsOf(t1) must
    // land on the right version by manifest timestamp (row and column
    // counts under the hash), the manifests' own row counts and the
    // schema-drift flag are asserted relationally, and vacuumBefore(t1)
    // must age out exactly v0 — after which as-of-t0 history is GONE (the
    // VACUUM contract) while as-of-t1 still reads. The oracle replays
    // every count from the base table.
    Q("q205_time_travel_by_timestamp",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val work = workDir("q205")
        val tbl = graft.core.Table(s, work.toString, "snap")
        tbl.writeVersion(base)
        val t0 = tbl.versionMeta(0L).committedAtMs
        Thread.sleep(5) // distinct commit instants on a coarse clock
        tbl.writeVersion(base.filter(col("o_orderkey") % 4 === 0)
          .withColumn("o_flag", lit(1)))
        val t1 = tbl.versionMeta(1L).committedAtMs
        val m0 = tbl.versionMeta(0L)
        val m1 = tbl.versionMeta(1L)
        val asOf0 = tbl.readAsOf(t0)
        val asOf1 = tbl.readAsOf(t1)
        // materialize BEFORE the vacuum: deleting a version invalidates
        // still-lazy plans over it — the exact contract vacuumBefore
        // documents, exercised here on purpose by asof_t0_history_gone
        val asOf0Rows = asOf0.count()
        val asOf1Rows = asOf1.count()
        // age retention: a cutoff before all history drops nothing; the
        // day-1 cutoff ages out exactly v0 and never the live version
        val keptAll = tbl.vacuumBefore(0L).isEmpty
        val dropped = tbl.vacuumBefore(t1)
        val t0Gone = scala.util.Try(tbl.readAsOf(t0)).isFailure
        tbl.readLatest
          .agg(count(lit(1)).cast("long").as("value"))
          .select(lit("postvacuum_latest_rows").as("metric"), col("value"))
          .unionByName(Seq(
            ("asof_t0_rows", asOf0Rows),
            ("asof_t1_rows", asOf1Rows),
            ("asof_t0_cols", asOf0.columns.length.toLong),
            ("asof_t1_cols", asOf1.columns.length.toLong),
            ("manifest_v0_rows", m0.rows.get),
            ("manifest_v1_rows", m1.rows.get),
            ("commits_monotonic", if (t1 > t0) 1L else 0L),
            ("schema_evolved",
              if (m0.schemaMd5.get != m1.schemaMd5.get) 1L else 0L),
            ("vacuum_before_history_kept_all", if (keptAll) 1L else 0L),
            ("vacuum_dropped_v0_only", if (dropped == Seq(0L)) 1L else 0L),
            ("asof_t0_history_gone", if (t0Gone) 1L else 0L)
          ).toDF("metric", "value"))
          .orderBy("metric")
      },
      Some("""SELECT 'asof_t0_rows' AS metric, count(*) AS value FROM orders
             |UNION ALL SELECT 'asof_t1_rows', count(*) FROM orders WHERE o_orderkey % 4 = 0
             |UNION ALL SELECT 'postvacuum_latest_rows', count(*) FROM orders WHERE o_orderkey % 4 = 0
             |UNION ALL SELECT 'asof_t0_cols', 2
             |UNION ALL SELECT 'asof_t1_cols', 3
             |UNION ALL SELECT 'manifest_v0_rows', count(*) FROM orders
             |UNION ALL SELECT 'manifest_v1_rows', count(*) FROM orders WHERE o_orderkey % 4 = 0
             |UNION ALL SELECT 'commits_monotonic', 1
             |UNION ALL SELECT 'schema_evolved', 1
             |UNION ALL SELECT 'vacuum_before_history_kept_all', 1
             |UNION ALL SELECT 'vacuum_dropped_v0_only', 1
             |UNION ALL SELECT 'asof_t0_history_gone', 1
             |ORDER BY metric""".stripMargin)),

    // ------------------------------------------------------------------
    // q206 — BATCHED ANN retrieval (X60's serving face; subsumes the
    // single-query `sim/IvfPqIndex.scala` `search`, which pays one driver
    // round-trip per query): eight probes run through `searchAll` as ONE
    // job — per-probe cells and per-probe ADC lookup tables computed
    // map-only from the literal centroids/codebooks ON the probe frame
    // (each probe builds its tables once; each candidate row pays m array
    // lookups), the union of probed cells re-entering as a planning-time
    // PartitionFilter so there is exactly ONE pruned index scan
    // (IvfPqIndexSpec pins it), per-probe ADC top-30 through the
    // topKPerKey bounded heaps, and one id-pushed re-rank fetch. The
    // oracle is q195's retrieval replay generalized over the probe set —
    // every probe's full (cells → ADC → exact top-10) chain sits under
    // one hash, so batched and single-query retrieval can never drift.
    Q("q206_ann_batched_retrieval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val tmp = workDir("q206").toString
        val idx = s"$tmp/index"
        graft.sim.IvfPqIndex.build(emb, "vec_id", "embedding",
          pqCodebooks, ivfCentroids, idx)
        val probes = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("embedding"))
        graft.sim.IvfPqIndex.searchAll(s, idx, emb, "vec_id", "embedding",
            probes, "probe_id", "embedding", pqCodebooks, ivfCentroids,
            nProbe = 2, kCand = 30, k = 10)
          .orderBy("probe_id", "rank")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cellv AS (SELECT vec_id, v, ${dIvfNegScores("v")} AS ns FROM c),
             |cell AS (SELECT vec_id, v,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv),
             |enc AS (SELECT vec_id, v, cell, ${dPqCodeList("v")} AS code FROM cell),
             |qn AS (SELECT vec_id AS probe_id, v AS qv, ${dIvfNegScores("v")} AS qns
             |       FROM c WHERE vec_id < 8),
             |probes AS (SELECT probe_id, CAST(j - 1 AS INTEGER) AS cell FROM (
             |    SELECT probe_id, j,
             |      row_number() OVER (PARTITION BY probe_id ORDER BY qns[j], j) AS rn
             |    FROM qn, generate_series(1, ${ivfCentroids.size}) t(j)) WHERE rn <= 2),
             |d AS (SELECT pr.probe_id, e.vec_id, e.v,
             |        round(${dPqAdcDist("qn.qv", "e.code")}, 6) AS dist
             |      FROM probes pr JOIN enc e USING (cell)
             |           JOIN qn ON qn.probe_id = pr.probe_id),
             |cand AS (SELECT probe_id, vec_id, v FROM (
             |    SELECT *, row_number() OVER (PARTITION BY probe_id
             |      ORDER BY dist, vec_id) AS rn FROM d)
             |  WHERE rn <= 30),
             |r AS (SELECT cand.probe_id, cand.vec_id,
             |        round(list_dot_product(qn.qv, cand.v)
             |          / (sqrt(list_dot_product(qn.qv, qn.qv))
             |             * sqrt(list_dot_product(cand.v, cand.v))), 6) AS sim
             |      FROM cand JOIN qn ON qn.probe_id = cand.probe_id)
             |SELECT probe_id, vec_id AS neighbor_id, sim, CAST(rnk AS INTEGER) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
             |        ORDER BY sim DESC, vec_id) AS rnk FROM r)
             |WHERE rnk <= 10 ORDER BY probe_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q207 — k-anonymity GENERALIZATION ladder (X65, completing X63):
    // suppression is the blunt instrument — a production release gate
    // coarsens quasi-identifiers first (widen the balance band 4×, then
    // drop nation to '*', then drop the band too) and deletes only the
    // residue no coarsening saves. q201's exact fixture walks a 4-level
    // ladder: the per-level audit (one scan for ALL levels — each row
    // explodes into |levels| tuples) and the chosen release land under
    // ONE hash, with the oracle replaying the whole walk relationally —
    // per-level group counts, the least-suppression/lowest-level choice
    // via a scalar subquery, and the released-row count at exactly the
    // chosen level (0 everywhere else). Generalization must strictly beat
    // q201's suppress-only release: level 0's rows_suppressed IS q201's
    // suppressed count, and the chosen level's is smaller — both sides of
    // that inequality sit under the hash.
    Q("q207_k_anonymity_ladder",
      (s, dir) => {
        val cust = t(s, dir, "customer").select(
          col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("c_acctbal"))
        val ladder = Seq(
          Seq("seg" -> col("c_mktsegment"),
            "nat" -> col("c_nationkey").cast("string"),
            "band" -> floor(col("c_acctbal") / 2000).cast("string")),
          Seq("seg" -> col("c_mktsegment"),
            "nat" -> col("c_nationkey").cast("string"),
            "band" -> floor(col("c_acctbal") / 8000).cast("string")),
          Seq("seg" -> col("c_mktsegment"), "nat" -> lit("*"),
            "band" -> floor(col("c_acctbal") / 8000).cast("string")),
          Seq("seg" -> col("c_mktsegment"), "nat" -> lit("*"),
            "band" -> lit("*")))
        val audit = Privacy.ladderAudit(cust, ladder, k = 4)
        val released = Privacy.generalizeUntilK(cust, ladder, k = 4)
          .groupBy(col("gen_level").as("level"))
          .agg(count(lit(1)).as("released_rows"))
        audit.join(released, Seq("level"), "left")
          .select(col("level"), col("groups_below_k"),
            col("rows_suppressed"),
            coalesce(col("released_rows"), lit(0L)).as("released_rows"))
          .orderBy("level")
      },
      Some("""WITH cust AS (SELECT c_mktsegment AS seg,
             |    CAST(c_nationkey AS VARCHAR) AS nat,
             |    CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR) AS band,
             |    CAST(CAST(floor(c_acctbal / 8000) AS BIGINT) AS VARCHAR) AS band2
             |  FROM customer),
             |lv AS (SELECT 0 AS level, seg || '|' || nat || '|' || band AS qi FROM cust
             |  UNION ALL SELECT 1, seg || '|' || nat || '|' || band2 FROM cust
             |  UNION ALL SELECT 2, seg || '|*|' || band2 FROM cust
             |  UNION ALL SELECT 3, seg || '|*|*' FROM cust),
             |gr AS (SELECT level, qi, count(*) AS n FROM lv GROUP BY 1, 2),
             |audit AS (SELECT level,
             |    CAST(sum(CASE WHEN n < 4 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
             |    CAST(sum(CASE WHEN n < 4 THEN n ELSE 0 END) AS BIGINT) AS rows_suppressed
             |  FROM gr GROUP BY level),
             |chosen AS (SELECT level FROM audit ORDER BY rows_suppressed, level LIMIT 1),
             |total AS (SELECT count(*) AS t FROM cust)
             |SELECT a.level, a.groups_below_k, a.rows_suppressed,
             |  CASE WHEN a.level = (SELECT level FROM chosen)
             |       THEN (SELECT t FROM total) - a.rows_suppressed
             |       ELSE 0 END AS released_rows
             |FROM audit a ORDER BY level""".stripMargin)),

    // ------------------------------------------------------------------
    // q208 — hashed-feature quality classifier (X66, the fastText/CCNet
    // model-based filter): 3 rounds of full-batch logistic-regression
    // gradient ascent on hashed unigram+bigram frequencies, label = "is
    // the English slice", then every document scored under the learned
    // weights. The ENTIRE training loop sits under the hash: the oracle
    // unrolls all three iterations relationally (per-bucket gradients,
    // the shifted floor-division update, the micro-pinned logistic), so
    // a drift anywhere in fit OR apply moves the released margins. Round
    // 1 is float-free by construction (w0 = 0 -> sigma(0) = 500000
    // exactly); the exp caveat applies from round 2 on.
    Q("q208_quality_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE feature pass serves train AND score: both run over the
        // identical (universe, buckets, seed), so featurizing twice — the
        // former train(docs)+score(docs) shape — hashed every gram twice.
        // Persisted pre-partitioned on the id (features() spreads on it),
        // so all 3 gradient rounds and the scoring margin agg reuse one
        // layout; persist (not localCheckpoint) keeps the blocks
        // executor-loss-recomputable, and the bench's RDD-delta cleanup
        // reclaims them after the query.
        val feats = QualityClassifier.features(docs, "doc_id", "text",
            buckets = 256)
          .join(docs.select(col("doc_id"),
            when(col("lang") === "en", lit(1000000L)).otherwise(lit(0L))
              .as("__y")), "doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val w = QualityClassifier.trainOnFeatures(feats, "doc_id",
          n = docs.count(), iterations = 3)
        QualityClassifier.scoreOnFeatures(docs.select(col("doc_id")),
            feats, "doc_id", w)
          .orderBy("doc_id")
      },
      Some(s"""WITH $dQcIterCtes
             |SELECT d.doc_id, CAST(COALESCE(qs.m, 0) AS BIGINT) AS margin_micro,
             |  CAST(round(1000000 / (1 + exp(-CAST(COALESCE(qs.m, 0) AS DOUBLE) / 1000000))) AS BIGINT) AS p_micro
             |FROM documents d LEFT JOIN qs USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q209 — late-interaction MaxSim retrieval (X67, ColBERT): documents
    // and queries as BAGS of vectors — the fixture folds embeddings into
    // 5-token documents (doc = vec_id DIV 5), the first two docs' bags
    // replay as queries. Per query token the best document token wins,
    // the micro-pinned maxima sum per (query, doc), bounded heaps cut the
    // top-5. The oracle replays the full cross interaction: per-pair
    // rounded cosines, per-token max, exact micro sums, the same
    // (score desc, id) rank rule.
    Q("q209_maxsim_retrieval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val docToks = emb.select(expr("vec_id DIV 5").as("doc_id"),
          col("embedding"))
        val qToks = emb.filter(col("vec_id") < 10)
          .select(expr("vec_id DIV 5").as("q_id"), col("vec_id").as("tok"),
            col("embedding"))
        Similarity.maxSimTopK(docToks, "doc_id", "embedding",
            qToks, "q_id", "tok", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |dt AS (SELECT vec_id // 5 AS doc_id, v FROM e),
             |qt AS (SELECT vec_id // 5 AS q_id, vec_id AS tok, v AS qv
             |       FROM e WHERE vec_id < 10),
             |pair AS (SELECT qt.q_id, dt.doc_id, qt.tok,
             |    round(list_dot_product(qt.qv, dt.v)
             |      / (sqrt(list_dot_product(qt.qv, qt.qv))
             |         * sqrt(list_dot_product(dt.v, dt.v))), 6) AS s
             |  FROM qt CROSS JOIN dt),
             |mx AS (SELECT q_id, doc_id, tok, max(s) AS b
             |       FROM pair WHERE NOT isnan(s) GROUP BY q_id, doc_id, tok),
             |sc AS (SELECT q_id, doc_id,
             |         CAST(sum(CAST(round(b * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
             |       FROM mx GROUP BY q_id, doc_id)
             |SELECT q_id AS query_id, doc_id AS neighbor_id, score_micro,
             |  CAST(rnk AS INTEGER) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score_micro DESC, doc_id) AS rnk FROM sc)
             |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q210 — reciprocal-rank hybrid fusion (X68 over X19 + X3): q100's
    // BM25 lexical top-20 fused with a dense cosine top-20 (probe =
    // embedding 0) through integer-micro RRF — the hybrid-search shape
    // every retrieval stack ships, with zero score calibration crossing
    // systems (only ranks do). Both input retrievals AND the fusion sit
    // under one hash; n_systems exposes which docs both retrievers agree
    // on. The fusion itself has NO float anywhere — the one retrieval
    // query immune to the ulp caveat.
    Q("q210_rrf_hybrid",
      (s, dir) => {
        val bm = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            col("text"), Seq("spark", "hash", "join"), k = 20)
          .select(col("doc_id"), col("rank"))
        val emb = t(s, dir, "embeddings")
        val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
            k = 20, excludeSelf = false)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(bm, dense), "doc_id", k0 = 60, topK = 10)
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st),
             |bm AS (SELECT doc_id, rn AS rank FROM (
             |  SELECT doc_id,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |  WHERE rn <= 20),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |dn AS (SELECT vec_id AS doc_id, rn AS rank FROM (
             |  SELECT e.vec_id,
             |    row_number() OVER (ORDER BY
             |      round(list_dot_product(q.qv, e.v)
             |        / (sqrt(list_dot_product(q.qv, q.qv))
             |           * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
             |      e.vec_id) AS rn
             |  FROM e CROSS JOIN q)
             |  WHERE rn <= 20),
             |u AS (SELECT doc_id, rank FROM bm UNION ALL SELECT doc_id, rank FROM dn)
             |SELECT doc_id, CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
             |  count(*) AS n_systems
             |FROM u GROUP BY doc_id
             |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q211 — zone-map data skipping (X69): orders staged range-clustered
    // on (o_totalprice, o_orderkey) into 1000-row files, a per-file
    // min/max manifest built, then a price-range read that drops files
    // from the MANIFEST before any data file opens — the Delta/Iceberg
    // data-skipping core at engine level. The deterministic shard rule
    // (shard = (rn-1) DIV 1000 over the total sort order) makes the file
    // POPULATION itself replayable, so the oracle audits the prune
    // decision (files_total/files_kept from shard min/max intersection),
    // not just the returned rows — a wrongly kept file moves files_kept,
    // a wrongly DROPPED file moves the row aggregates. Both sit under one
    // hash. In-query requires pin that pruning actually pruned and
    // actually scanned only the survivors.
    Q("q211_zone_map_skipping",
      (s, dir) => {
        val work = workDir("q211")
        val data = work.resolve("orders_zm").toString
        val man = work.resolve("orders_zm_manifest").toString
        ZoneMaps.writeRangeSharded(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          data, Seq("o_totalprice", "o_orderkey"), rowsPerFile = 1000)
        ZoneMaps.build(s, data, man, Seq("o_totalprice"))
        val (pruned, stats) = ZoneMaps.prunedRead(s, data, man,
          Seq(ZoneMaps.Range("o_totalprice", 50000.0, 100000.0)))
        require(stats.filesKept > 0 && stats.filesKept < stats.filesTotal,
          s"zone maps pruned nothing: $stats")
        require(pruned.inputFiles.length == stats.filesKept,
          s"scan read ${pruned.inputFiles.length} files, kept ${stats.filesKept}")
        pruned.agg(
          lit(stats.filesTotal).as("files_total"),
          lit(stats.filesKept).as("files_kept"),
          count(lit(1)).as("n_rows"),
          Ops.sumDec(col("o_totalprice")).as("sum_price"))
      },
      Some("""WITH s AS (SELECT o_orderkey, o_totalprice,
             |    (row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) // 1000 AS sh
             |  FROM orders),
             |zm AS (SELECT sh, min(o_totalprice) AS lo, max(o_totalprice) AS hi
             |       FROM s GROUP BY sh)
             |SELECT
             |  (SELECT CAST(count(*) AS INTEGER) FROM zm) AS files_total,
             |  (SELECT CAST(count(*) AS INTEGER) FROM zm
             |     WHERE hi >= 50000 AND lo <= 100000) AS files_kept,
             |  count(*) AS n_rows,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_totalprice >= 50000 AND o_totalprice <= 100000""".stripMargin)),

    // ------------------------------------------------------------------
    // q212 — sparse random projection (X70, Achlioptas/JL): every
    // embedding shrunk 64 -> 16 dims through the md5-derived ±1/0 matrix
    // — 16 codegen'd literal dot products fused into the scan, map-only.
    // The oracle rebuilds the SAME matrix from the same md5 draw
    // (hash mod 6 -> {+1, -1, 0, 0, 0, 0}) and replays every projection
    // value to the micro — matrix generation, the left-to-right dot fold,
    // and the √(3/k) scale all sit under the hash.
    Q("q212_random_projection",
      (s, dir) => {
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(Similarity.randomProject(col("embedding"),
              inDim = 64, outDim = 16, seed = "s212")))
          .select(col("vec_id"), col("pos").as("dim"),
            round(col("col") * 1e6).cast("long").as("value_micro"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |m AS (SELECT j, list_transform(range(0, 64), i ->
             |        CASE ('0x' || substr(md5('rp:s212:' || j || ':' || i), 1, 8))::UBIGINT % 6
             |          WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END) AS mrow
             |      FROM (SELECT unnest(range(0, 16)) AS j))
             |SELECT e.vec_id, CAST(m.j AS INTEGER) AS dim,
             |  CAST(round(list_dot_product(e.v, m.mrow) * sqrt(3.0 / 16) * 1000000)
             |       AS BIGINT) AS value_micro
             |FROM e CROSS JOIN m
             |ORDER BY vec_id, dim""".stripMargin)),

    // ------------------------------------------------------------------
    // q217 — inverted-index BM25 (X72): the corpus tokenizes ONCE into a
    // term-range-sharded postings table (doc length denormalized into the
    // posting row, the impact-index trick that kills the doc-length
    // join), then the query answers from ONLY the queried terms' postings
    // — `term IN (...)` pushed into the scan, the O(corpus) → O(matching
    // postings) asymptote change that is the whole point of an index.
    // The index-correctness contract is asserted IN-QUERY: the indexed
    // top-20 must equal Retrieval.bm25TopK's full-scan top-20 row for
    // row (an index that disagrees with the scan is corrupt, however
    // fast), and the oracle replays the scan face independently — so the
    // hash pins scan ≡ index ≡ relational replay simultaneously.
    Q("q217_inverted_index_bm25",
      (s, dir) => {
        val tmp = workDir("q217").toString
        val terms = Seq("spark", "hash", "join")
        InvertedIndex.build(t(s, dir, "documents"), "doc_id", "text",
          s"$tmp/idx")
        val indexed = InvertedIndex.bm25TopK(s, s"$tmp/idx", terms, k = 20)
        val scan = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
          col("text"), terms, k = 20)
        val a = indexed.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        val b = scan.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        require(a == b,
          s"index diverged from the scan face:\n  index $a\n  scan  $b")
        indexed.orderBy("rank")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st)
             |SELECT doc_id, score, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT doc_id,
             |    round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |WHERE rn <= 20 ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q218 — SEGMENTED index lifecycle (X72 ⊗ X59, the Lucene freshness
    // story on the append ledger): the corpus arrives in three disjoint
    // batches, each committed as an immutable index SEGMENT exactly once
    // — a replayed segment id no-ops WITHOUT building the batch's plan
    // (`sys.error` in the by-name docs proves it, the q204 discipline) —
    // with a mid-stream ledgerCompact folding early segments into one
    // base (segment MERGE: the file population changes, the answer may
    // not). The final segmented query must equal the full-corpus scan
    // face row for row IN-QUERY, and the oracle replays the scan
    // relationally — one hash pins scan ≡ merged-segment index ≡ replay,
    // plus every lifecycle assertion along the way.
    Q("q218_segmented_index_lifecycle",
      (s, dir) => {
        val tmp = workDir("q218").toString
        val docs = t(s, dir, "documents")
        val terms = Seq("spark", "hash", "join")
        def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
        require(InvertedIndex.indexSegment(s, tmp, 0L, batch(0), "doc_id", "text"),
          "segment 0 did not commit")
        require(InvertedIndex.indexSegment(s, tmp, 1L, batch(1), "doc_id", "text"),
          "segment 1 did not commit")
        // exactly-once: replaying segment 0 must no-op without even
        // building the batch plan (docs is by-name)
        require(!InvertedIndex.indexSegment(s, tmp, 0L,
          sys.error("replayed segment rebuilt its batch"), "doc_id", "text"),
          "segment replay wrote")
        // segment merge, then one more arrival on top of the new base
        require(InvertedIndex.compactSegments(s, tmp, maxDeltas = 0),
          "compaction did not fold")
        require(InvertedIndex.indexSegment(s, tmp, 2L, batch(2), "doc_id", "text"),
          "segment 2 did not commit")
        val seg = InvertedIndex.bm25TopKSegmented(s, tmp, terms, k = 15)
        val scan = Retrieval.bm25TopK(docs, "doc_id", col("text"), terms, k = 15)
        val a = seg.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        val b = scan.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        require(a == b,
          s"segmented index diverged from the scan face:\n  seg  $a\n  scan $b")
        seg.orderBy("rank")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st)
             |SELECT doc_id, score, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT doc_id,
             |    round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |WHERE rn <= 15 ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q219 — windowed funnel (X73, the windowFunnel conversion primitive):
    // view → click → purchase within 24 h of the chain's first event,
    // level = max over ALL candidate starts (per-start greedy advance is
    // provably optimal for a fixed start, so max-over-starts is exact).
    // The report is the classic funnel table: users reaching each step
    // and integer-micro conversion from step 1. The oracle replays the
    // chain joins, the per-start greedy mins, the max-over-starts fold,
    // and the report arithmetic relationally — every step boundary and
    // the strict-ordering rule sit under the hash.
    Q("q219_funnel",
      (s, dir) => {
        val steps = Seq("view", "click", "purchase")
        val lv = graft.ops.TimeSeries.funnelLevels(Relational.events(s, dir),
          col("user_id"), col("ts"), col("event_type"), steps,
          windowSec = 86400)
        val reached = lv
          .select(explode(sequence(lit(1), col("level"))).as("step"))
          .groupBy("step").agg(count(lit(1)).as("users"))
        val base = reached.filter(col("step") === 1)
          .select(col("users").as("__b"))
        val stepName = steps.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, (n, i)) => when(col("step") === i + 1, lit(n)).otherwise(acc)
        }
        reached.crossJoin(broadcast(base))
          .select(col("step"), stepName.as("event_type"), col("users"),
            expr("users * 1000000 DIV __b").as("conv_micro"))
          .orderBy("step")
      },
      Some("""WITH ev AS (SELECT user_id AS u, ts, event_type AS et FROM events
             |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |c1 AS (SELECT u, ts AS t1, ts AS tk FROM ev WHERE et = 'view'),
             |c2 AS (SELECT c.u, c.t1, min(e.ts) AS tk
             |       FROM c1 c JOIN ev e ON e.u = c.u
             |       WHERE e.et = 'click' AND e.ts > c.tk
             |         AND e.ts <= c.t1 + INTERVAL 86400 SECOND
             |       GROUP BY c.u, c.t1),
             |c3 AS (SELECT c.u, c.t1, min(e.ts) AS tk
             |       FROM c2 c JOIN ev e ON e.u = c.u
             |       WHERE e.et = 'purchase' AND e.ts > c.tk
             |         AND e.ts <= c.t1 + INTERVAL 86400 SECOND
             |       GROUP BY c.u, c.t1),
             |lv AS (SELECT u, max(l) AS level FROM (
             |    SELECT u, 1 AS l FROM c1
             |    UNION ALL SELECT u, 2 FROM c2
             |    UNION ALL SELECT u, 3 FROM c3) GROUP BY u),
             |r AS (SELECT s.step, count(*) AS users
             |      FROM lv, (SELECT unnest([1, 2, 3]) AS step) s
             |      WHERE lv.level >= s.step GROUP BY s.step)
             |SELECT CAST(step AS INTEGER) AS step,
             |  CASE step WHEN 1 THEN 'view' WHEN 2 THEN 'click'
             |            ELSE 'purchase' END AS event_type,
             |  users,
             |  CAST(users * 1000000 // (SELECT users FROM r WHERE step = 1) AS BIGINT) AS conv_micro
             |FROM r ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // q220 — ε-DP quantile release (X74, exponential mechanism via
    // Gumbel-max): account-balance quartiles released under ε = 2, every
    // candidate's utility −|rank − target|, penalty and target rank in
    // non-negative floor divisions, per-candidate Gumbel drawn from the
    // md5 of (seed, quantile, RANK) — rank-keyed so the oracle's string
    // concat is integer-only and engine-exact. The oracle rebuilds the
    // whole mechanism: distinct-value ranks, targets, penalties, the
    // Gumbel priorities, and each quantile's argmax. The released values
    // are NOT the true quartiles (that's the point); what the hash pins
    // is that the MECHANISM is followed exactly.
    Q("q220_dp_quantiles",
      (s, dir) =>
        Privacy.dpQuantiles(t(s, dir, "customer"), col("c_acctbal"),
            quantilesMicro = Seq(250000L, 500000L, 750000L),
            epsilonMicro = 2000000L, seed = "s220")
          .orderBy("q_micro"),
      Some("""WITH cnt AS (SELECT CAST(c_acctbal AS DOUBLE) AS v, count(*) AS c
             |             FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
             |rk AS (SELECT v, c, sum(c) OVER (ORDER BY v) - c AS below FROM cnt),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
             |qs AS (SELECT unnest([250000, 500000, 750000]) AS qm),
             |cand AS (SELECT rk.v, rk.below, qs.qm,
             |    (2000000 * abs(rk.below - ((tot.n - 1) * qs.qm) // 1000000)) // 2 AS pen
             |  FROM rk CROSS JOIN tot CROSS JOIN qs),
             |pri AS (SELECT qm, v,
             |    -(pen / 1e6) - ln(-ln(
             |      ((('0x' || substr(md5('s220:' || qm || ':' || below), 1, 8))::UBIGINT + 0.5)
             |       / 4294967296.0))) AS p
             |  FROM cand)
             |SELECT CAST(qm AS BIGINT) AS q_micro, v AS released
             |FROM (SELECT *, row_number() OVER (PARTITION BY qm ORDER BY p DESC, v) AS rn
             |      FROM pri)
             |WHERE rn = 1 ORDER BY q_micro""".stripMargin)),

    // ------------------------------------------------------------------
    // q221 — SEGMENTED MATERIALIZED AGGREGATE lifecycle (X75 ⊗ X59, the
    // Druid/Pinot ingestion rollup): lineitem arrives in three disjoint
    // batches, each aggregated to per-group partials and committed as an
    // exactly-once ledger segment (a replayed id no-ops WITHOUT building
    // the batch plan — sys.error by-name, the q204 discipline); a
    // mid-stream compact folds early segments THROUGH the merge (the new
    // base is one row per group — asserted in-query), a third batch lands
    // on top, and the final view must equal the direct aggregation over
    // the whole corpus value for value IN-QUERY. The oracle replays that
    // direct aggregation — one hash pins partials ≡ merge ≡ fold ≡ scan.
    Q("q221_agg_view_lifecycle",
      (s, dir) => {
        val tmp = workDir("q221").toString
        val li = t(s, dir, "lineitem")
        val gc = Seq("l_returnflag", "l_linestatus")
        val ms = Seq(graft.ops.AggView.Measure("l_quantity", 2),
          graft.ops.AggView.Measure("l_extendedprice", 2))
        def batch(i: Int) = li.filter(pmod(col("l_orderkey"), lit(3)) === i)
        require(graft.ops.AggView.commitSegment(s, tmp, "v", 0L, batch(0), gc, ms),
          "segment 0 did not commit")
        require(graft.ops.AggView.commitSegment(s, tmp, "v", 1L, batch(1), gc, ms),
          "segment 1 did not commit")
        require(!graft.ops.AggView.commitSegment(s, tmp, "v", 0L,
          sys.error("replayed segment rebuilt its batch"), gc, ms),
          "segment replay wrote")
        require(graft.ops.AggView.compact(s, tmp, "v", gc, ms, maxDeltas = 0),
          "compaction did not fold")
        // compaction-as-re-aggregation: the folded base is ONE row per
        // group — both counts ride ONE aggregation job (they were two
        // full-frame jobs for one tiny base; same predicate asserted)
        val folded = graft.core.Table(s, tmp, "v").readLedger
        val fRow = folded.agg(count(lit(1)),
          count_distinct(struct(gc.map(col): _*))).collect()(0)
        require(fRow.getLong(0) == fRow.getLong(1),
          "folded base is not one row per group")
        require(graft.ops.AggView.commitSegment(s, tmp, "v", 2L, batch(2), gc, ms),
          "segment 2 did not commit")
        val view = graft.ops.AggView.read(s, tmp, "v", gc, ms)
          .orderBy(gc.map(col): _*)
        val direct = li.groupBy(gc.map(col): _*)
          .agg(count(lit(1)).as("cnt"),
            count(col("l_quantity")).as("cnt_l_quantity"),
            graft.ops.Ops.sumDec(col("l_quantity")).as("sum_l_quantity"),
            graft.ops.Ops.avgDec(col("l_quantity")).as("avg_l_quantity"),
            min(col("l_quantity")).as("min_l_quantity"),
            max(col("l_quantity")).as("max_l_quantity"),
            count(col("l_extendedprice")).as("cnt_l_extendedprice"),
            graft.ops.Ops.sumDec(col("l_extendedprice")).as("sum_l_extendedprice"),
            graft.ops.Ops.avgDec(col("l_extendedprice")).as("avg_l_extendedprice"),
            min(col("l_extendedprice")).as("min_l_extendedprice"),
            max(col("l_extendedprice")).as("max_l_extendedprice"))
          .orderBy(gc.map(col): _*)
        val a = view.select(direct.columns.toIndexedSeq.map(col): _*)
          .collect().map(_.toSeq).toSeq
        val b = direct.collect().map(_.toSeq).toSeq
        require(a == b,
          s"view diverged from the direct aggregation:\n  view   $a\n  direct $b")
        view
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             |  count(l_quantity) AS cnt_l_quantity,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_l_quantity,
             |  min(l_quantity) AS min_l_quantity,
             |  max(l_quantity) AS max_l_quantity,
             |  count(l_extendedprice) AS cnt_l_extendedprice,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_l_extendedprice,
             |  min(l_extendedprice) AS min_l_extendedprice,
             |  max(l_extendedprice) AS max_l_extendedprice
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // q222 — cohort retention triangle (X76, the growth-analytics
    // staple): users cohorted by the absolute epoch week of their first
    // event (daily periods), one row per (cohort, offset) with active
    // users, cohort size and integer-micro retention. Periods are integer
    // divisions (no date_trunc week-start ambiguity), so the oracle
    // replays every bucket boundary exactly: first-event minimum,
    // distinct (user, period) activity, the cohort join, and the rate
    // arithmetic all sit under one hash.
    Q("q222_cohort_retention",
      (s, dir) =>
        graft.ops.TimeSeries.cohortRetention(Relational.events(s, dir),
            col("user_id"), col("ts"), periodSec = 86400L)
          .orderBy("cohort", "offset"),
      Some("""WITH ev AS (SELECT user_id AS u,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS p
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |fc AS (SELECT u, min(p) AS cohort FROM ev GROUP BY u),
             |act AS (SELECT DISTINCT u, p FROM ev),
             |tri AS (SELECT fc.cohort, act.p - fc.cohort AS "offset",
             |          count(*) AS active
             |        FROM act JOIN fc USING (u) GROUP BY 1, 2),
             |sz AS (SELECT cohort, active AS cohort_size FROM tri
             |       WHERE "offset" = 0)
             |SELECT tri.cohort, tri."offset", tri.active, sz.cohort_size,
             |  tri.active * 1000000 // sz.cohort_size AS ret_micro
             |FROM tri JOIN sz USING (cohort)
             |ORDER BY tri.cohort, tri."offset"""".stripMargin)),

    // ------------------------------------------------------------------
    // q223 — isotonic score calibration (X77, pool-adjacent-violators):
    // a length-bucket "quality score" over documents calibrated against
    // a content-derived binary label (does the doc mention 'data'),
    // zero-float PAV in integer micros. The oracle rebuilds the ENTIRE
    // fit through the minimax characterization fit(i) = max_{j≤i}
    // min_{k≥i} mean(j..k) — floor commutes with min/max, so floored
    // micro means replay PAV exactly: every pooled block boundary sits
    // under the hash, not just the aggregate counts.
    Q("q223_isotonic_calibration",
      (s, dir) => {
        val toks = graft.text.TextStats.tokens(col("text"))
        graft.ops.Calibrate.isotonicCalibrate(
            t(s, dir, "documents").select(
              least(floor(size(toks) / 5), lit(60)).cast("long").as("sc"),
              array_contains(toks, "data").cast("int").as("l")),
            col("sc"), col("l"))
          .withColumnRenamed("score", "score_bucket")
          .orderBy("score_bucket")
      },
      Some(s"""WITH tk AS (SELECT $dTok AS tk FROM documents),
             |b AS (SELECT least(len(tk) // 5, 60) AS sc,
             |        CASE WHEN list_contains(tk, 'data') THEN 1 ELSE 0 END AS l
             |      FROM tk),
             |g AS (SELECT sc, count(*) AS n, CAST(sum(l) AS BIGINT) AS pos
             |      FROM b GROUP BY sc),
             |r AS (SELECT *, row_number() OVER (ORDER BY sc) AS i FROM g),
             |p AS (SELECT i, sc, n, pos, sum(n) OVER (ORDER BY i) AS cc,
             |        sum(pos) OVER (ORDER BY i) AS ss FROM r),
             |pair AS (SELECT a.i AS j, b.i AS k,
             |      (b.ss - a.ss + a.pos) * 1000000 // (b.cc - a.cc + a.n) AS am
             |    FROM p a JOIN p b ON a.i <= b.i),
             |inner_min AS (SELECT x.i, pr.j, min(pr.am) AS mn
             |    FROM p x JOIN pair pr ON pr.j <= x.i AND pr.k >= x.i
             |    GROUP BY x.i, pr.j),
             |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS cal_micro
             |        FROM inner_min GROUP BY i)
             |SELECT r.sc AS score_bucket, r.n, r.pos, fit.cal_micro
             |FROM r JOIN fit USING (i) ORDER BY score_bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q224 — skew-differentiated join (X78): a derived key folds 30% of
    // part keys into one mega-key, giving lineitem a genuine heavy
    // hitter; skewSplitJoin detects it (threshold 1000), broadcasts its
    // small-side row, and shuffle-joins only the light tail — and the
    // result must be row-identical to the plain join, which is exactly
    // what the oracle replays (derived keys, key-unique dim rollup, the
    // join, and the exact-decimal report). Split ≡ plain is ALSO
    // asserted in-query on the full join row count.
    Q("q224_skew_split_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          when(pmod(col("l_partkey"), lit(10)) < 3, lit(0L))
            .otherwise(col("l_partkey")).as("k"),
          col("l_extendedprice"), col("l_returnflag"))
        val dim = t(s, dir, "part").groupBy(
            when(pmod(col("p_partkey"), lit(10)) < 3, lit(0L))
              .otherwise(col("p_partkey")).as("k"))
          .agg(graft.ops.Ops.sumDec(col("p_retailprice")).as("dim_val"))
        val joined = graft.ops.Ops.skewSplitJoin(li, dim, Seq("k"),
          heavyCountThreshold = 1000L)
        require(joined.count() == li.join(dim, Seq("k")).count(),
          "skew-split join row count diverged from the plain join")
        joined.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            graft.ops.Ops.sumDec(col("l_extendedprice")).as("sum_price"),
            graft.ops.Ops.sumDec(col("dim_val")).as("sum_dim"))
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (SELECT CASE WHEN l_partkey % 10 < 3 THEN 0
             |      ELSE l_partkey END AS k, l_extendedprice, l_returnflag
             |    FROM lineitem),
             |pt AS (SELECT CASE WHEN p_partkey % 10 < 3 THEN 0
             |      ELSE p_partkey END AS k,
             |      CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dim_val
             |    FROM part GROUP BY 1),
             |j AS (SELECT li.l_returnflag, li.l_extendedprice, pt.dim_val
             |      FROM li JOIN pt USING (k))
             |SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  CAST(sum(CAST(dim_val AS DECIMAL(18,2))) AS DOUBLE) AS sum_dim
             |FROM j GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q225 — STREAMING materialized-aggregate lifecycle (X75's
    // continuous-ingest face, the q203 pattern on the ledger): day-0
    // rolls the even-orderkey corpus into segment 0; two micro-batches
    // (the odd quarters, arrival-ordered by mtime) each aggregate THEIR
    // OWN rows to partials and commit exactly-once segments through
    // foreachBatch, with an IN-LOOP compact whose fold is the merge —
    // so the base keeps re-rolling to one row per group while the
    // stream runs (the Druid ingestion shape end to end). Per-batch
    // work is batch-sized + O(groups); history is never re-scanned.
    // The final view must equal the direct aggregation over the whole
    // table IN-QUERY, and the oracle replays that direct rollup.
    Q("q225_streaming_agg_view",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val work = workDir("q225")
        val gc = Seq("l_returnflag")
        val ms = Seq(graft.ops.AggView.Measure("l_discount", 2),
          graft.ops.AggView.Measure("l_tax", 2))
        val cols = (gc ++ ms.map(_.column)).map(col)
        require(graft.ops.AggView.commitSegment(s, work.toString, "av", 0L,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0).select(cols: _*),
          gc, ms), "day-0 segment did not commit")
        val feed = (m: Int) =>
          li.filter(pmod(col("l_orderkey"), lit(4)) === m).select(cols: _*)
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          graft.ops.AggView.commitSegment(s, work.toString, "av",
            batchId + 1, batch, gc, ms)
          // steady-state maintenance: fold through the merge whenever
          // more than one live delta fragments the ledger
          graft.ops.AggView.compact(s, work.toString, "av", gc, ms,
            maxDeltas = 1)
        }
        Staging.fileStream(work, feed(1), feed(3)).drain(onBatch)
        require(graft.core.Table(s, work.toString, "av").ledgerMax
          == Some(2L), "lifecycle should commit segments 0,1,2")
        val view = graft.ops.AggView.read(s, work.toString, "av", gc, ms)
          .orderBy("l_returnflag")
        val direct = li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            count(col("l_discount")).as("cnt_l_discount"),
            graft.ops.Ops.sumDec(col("l_discount")).as("sum_l_discount"),
            graft.ops.Ops.avgDec(col("l_discount")).as("avg_l_discount"),
            min(col("l_discount")).as("min_l_discount"),
            max(col("l_discount")).as("max_l_discount"),
            count(col("l_tax")).as("cnt_l_tax"),
            graft.ops.Ops.sumDec(col("l_tax")).as("sum_l_tax"),
            graft.ops.Ops.avgDec(col("l_tax")).as("avg_l_tax"),
            min(col("l_tax")).as("min_l_tax"),
            max(col("l_tax")).as("max_l_tax"))
          .orderBy("l_returnflag")
        val a = view.select(direct.columns.toIndexedSeq.map(col): _*)
          .collect().map(_.toSeq).toSeq
        val b = direct.collect().map(_.toSeq).toSeq
        require(a == b,
          s"streamed view diverged from the direct rollup:\n  $a\n  $b")
        view
      },
      Some("""SELECT l_returnflag, count(*) AS cnt,
             |  count(l_discount) AS cnt_l_discount,
             |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_discount,
             |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_l_discount,
             |  min(l_discount) AS min_l_discount,
             |  max(l_discount) AS max_l_discount,
             |  count(l_tax) AS cnt_l_tax,
             |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_tax,
             |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) / count(l_tax) AS avg_l_tax,
             |  min(l_tax) AS min_l_tax,
             |  max(l_tax) AS max_l_tax
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q226 — CALIBRATED classifier gate (X66 ⊗ X77 ⊗ X33, the full
    // production quality-gate stack): leakage-safe 50/50 split, 2
    // training rounds on the train slice, margins over the held-out
    // slice bucketed into ≤ 21 integer bins (width derived from the
    // margin range — all integer, shift-to-non-negative so DIV is
    // engine-exact), then the isotonic fit turns raw margins into a
    // MONOTONE calibrated P(en) curve — the thing a gate actually
    // thresholds. Split, training trajectory, scoring, bucketing, and
    // every PAV block boundary sit under one hash (the oracle chains
    // q216's classifier replay into q223's minimax fit).
    Q("q226_calibrated_gate",
      (s, dir) => {
        // The q216 shape: split pinned ONCE (persist), ONE per-doc-pure
        // feature pass over the whole corpus serving train and score —
        // the former per-slice train()+score() featurized twice and
        // re-ran the canonicalize+hash split subtree per consumer.
        val split = Sampling.assignSplitByContent(t(s, dir, "documents"),
            col("text"), Seq("train" -> 0.5, "test" -> 0.5), seed = "s226")
          .select(col("doc_id"), col("lang"), col("text"), col("split"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val feats = QualityClassifier.features(split, "doc_id", "text",
            buckets = 256)
          .join(split.select(col("doc_id"), col("split"),
            when(col("lang") === "en", lit(1000000L)).otherwise(lit(0L))
              .as("__y")), "doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val test = split.filter(col("split") === "test")
        val nTrain = split.filter(col("split") === "train").count()
        val w = QualityClassifier.trainOnFeatures(
          feats.filter(col("split") === "train"), "doc_id", nTrain,
          iterations = 2)
        val scored = QualityClassifier.scoreOnFeatures(
            test.select(col("doc_id")),
            feats.filter(col("split") === "test"), "doc_id", w)
          .join(test.select(col("doc_id"),
            (col("lang") === "en").cast("int").as("__y")), "doc_id")
          // pinned: three consumers (min/max probe, the bucketed census) —
          // the margin agg + label join re-ran per consumer otherwise;
          // node-sized, bench-cleanup-reclaimed
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val mm = scored.agg(min(col("margin_micro")), max(col("margin_micro")))
          .collect()(0)
        val lo = mm.getLong(0)
        val width = math.max(1L, (mm.getLong(1) - lo) / 20L)
        val bucketed = scored.select(
          expr(s"(margin_micro - ($lo)) DIV $width").as("mb"), col("__y"))
        graft.ops.Calibrate.isotonicCalibrate(bucketed, col("mb"), col("__y"))
          .withColumnRenamed("score", "margin_bucket")
          .orderBy("margin_bucket")
      },
      Some(s"""WITH ${dQcTrain(dKeepOf("s226", 0.5, dCanonOf("text")), 2)},
             |${dQcFeatures("t", s"NOT ${dKeepOf("s226", 0.5, dCanonOf("text"))}")},
             |qs AS ${dQcMargin("qw2", "tf")},
             |sctest AS (SELECT d.doc_id,
             |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
             |    COALESCE(qs.m, 0) AS m0
             |  FROM tsrc d LEFT JOIN qs USING (doc_id)),
             |rng AS (SELECT min(m0) AS lo,
             |    greatest(1, (max(m0) - min(m0)) // 20) AS w FROM sctest),
             |b AS (SELECT (m0 - (SELECT lo FROM rng)) // (SELECT w FROM rng) AS sc,
             |        y AS l FROM sctest),
             |g AS (SELECT sc, count(*) AS n, CAST(sum(l) AS BIGINT) AS pos
             |      FROM b GROUP BY sc),
             |r AS (SELECT *, row_number() OVER (ORDER BY sc) AS i FROM g),
             |p AS (SELECT i, sc, n, pos, sum(n) OVER (ORDER BY i) AS cc,
             |        sum(pos) OVER (ORDER BY i) AS ss FROM r),
             |pair AS (SELECT a.i AS j, b.i AS k,
             |      (b.ss - a.ss + a.pos) * 1000000 // (b.cc - a.cc + a.n) AS am
             |    FROM p a JOIN p b ON a.i <= b.i),
             |inner_min AS (SELECT x.i, pr.j, min(pr.am) AS mn
             |    FROM p x JOIN pair pr ON pr.j <= x.i AND pr.k >= x.i
             |    GROUP BY x.i, pr.j),
             |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS cal_micro
             |        FROM inner_min GROUP BY i)
             |SELECT CAST(r.sc AS BIGINT) AS margin_bucket, r.n, r.pos,
             |  fit.cal_micro
             |FROM r JOIN fit USING (i) ORDER BY margin_bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q227 — Poisson-bootstrap CI (X79): the 95% percentile interval for
    // the mean order price, 100 replicates in ONE scan — each (row,
    // replicate) cell draws a Poisson(1) weight from an md5-uniform
    // pushed through pre-floored integer CDF thresholds, ONE md5 per
    // (row, group-of-4) with hex slices seeding four replicates (the
    // 75 s → 13 s cost rewrite; weights and semantics unchanged), and
    // all replicate sums carried as exact Long micro hi/lo splits. The
    // oracle replays the ENTIRE mechanism: every slice, every weight,
    // every half-away integer mean, and both order-statistic bounds sit
    // under the hash (the CASE chain below is generated from the SAME
    // threshold longs the operator compiles into its plan).
    Q("q227_bootstrap_ci",
      (s, dir) =>
        graft.ops.Bootstrap.meanCI(t(s, dir, "orders"), col("o_orderkey"),
          col("o_totalprice"), replicates = 100, seed = "s227"),
      Some(s"""WITH d AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
             |    CAST(round(CAST(o_totalprice AS DOUBLE) * 1000000) AS BIGINT) AS m
             |  FROM orders),
             |raw AS (SELECT g.g, d.m,
             |    md5('s227:' || g.g || ':' || d.id) AS h
             |  FROM d CROSS JOIN (SELECT unnest(range(0, 25)) AS g) g),
             |cells AS (SELECT m, 4 * g + q.q AS b,
             |    ('0x' || substr(h, 8 * q.q + 1, 8))::UBIGINT AS u
             |  FROM raw CROSS JOIN (SELECT unnest(range(0, 4)) AS q) q),
             |wts AS (SELECT b, m,
             |    CASE ${graft.ops.Bootstrap.poissonThresholds.zipWithIndex
                      .map { case (t, k) => s"WHEN u < $t THEN $k" }
                      .mkString(" ")}
             |    ELSE ${graft.ops.Bootstrap.poissonThresholds.size} END AS w
             |  FROM cells),
             |reps AS (SELECT b, CAST(sum(w) AS BIGINT) AS n,
             |    CAST(sum(w * (m // 1048576)) AS BIGINT) AS shi,
             |    CAST(sum(w * (m % 1048576)) AS BIGINT) AS slo
             |  FROM wts GROUP BY b),
             |means AS (SELECT
             |    CAST((2 * (shi * 1048576 + slo) + n) // (2 * n) AS BIGINT) AS mm
             |  FROM reps),
             |ord AS (SELECT mm, row_number() OVER (ORDER BY mm) AS r FROM means),
             |t AS (SELECT count(*) AS n, CAST(sum(m) AS HUGEINT) AS s FROM d)
             |SELECT (SELECT n FROM t) AS n, 100 AS replicates,
             |  CAST((2 * (SELECT s FROM t) + (SELECT n FROM t))
             |       // (2 * (SELECT n FROM t)) AS BIGINT) AS mean_micro,
             |  (SELECT mm FROM ord WHERE r = 3) AS lo_micro,
             |  (SELECT mm FROM ord WHERE r = 98) AS hi_micro""".stripMargin)),

    // ------------------------------------------------------------------
    // q228 — CUSUM drift detection (X80, Page 1954): daily event counts
    // per event type pushed through the clamped cumulative-sum detector
    // in integer micros — slack k = 64 events/day, alarm line h = 50,
    // tuned so the fixture crosses the line on 52 of 150 days.
    // The prefix-min closed form (S_t = P_t − min(0, min_{j≤t} P_j))
    // makes the whole trajectory two running window aggregates, which is
    // exactly how the oracle replays it — every day's statistic and
    // every alarm boundary under one hash.
    Q("q228_cusum_drift",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("cnt"))
        graft.ops.TimeSeries.cusum(daily, Seq("event_type"), "day",
            col("cnt"), kMicro = 64000000L, hMicro = 50000000L)
          .orderBy("event_type", "day")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |c AS (SELECT event_type, day, count(*) AS cnt
             |      FROM e GROUP BY 1, 2),
             |p AS (SELECT event_type, day, cnt,
             |    sum(cnt * 1000000 - 64000000) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS pp
             |  FROM c)
             |SELECT event_type, day, cnt,
             |  CAST(pp - least(0, min(pp) OVER (PARTITION BY event_type
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW)) AS BIGINT) AS s_micro,
             |  (pp - least(0, min(pp) OVER (PARTITION BY event_type
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW))) > 50000000 AS alarm
             |FROM p ORDER BY event_type, day""".stripMargin)),

    // ------------------------------------------------------------------
    // q216 — held-out classifier evaluation (X66's eval face, composed
    // with X33 + the X51 quota-calibration stance): the number a
    // production quality gate is actually tuned on. The corpus splits
    // 50/50 by CANONICALIZED-content hash (the leakage-safe splitter — a
    // duplicated document can never sit in both train and eval), the
    // classifier fits 2 gradient rounds on the train slice only, and the
    // TEST slice scores under the learned weights into an exact integer
    // confusion matrix at the MEDIAN-margin operating point — the
    // keep-top-half quota gate. (A raw margin ≥ 0 cut is vacuous here:
    // two small-lr rounds leave every margin slightly negative, so the
    // zero threshold predicts one class and measures nothing; production
    // gates threshold at a calibrated quantile for exactly this reason.)
    // The threshold is the ⌈n/2⌉-th smallest test margin — exact integer,
    // order-statistic replayable — and predicted-positive is margin
    // STRICTLY above it. Split assignment, the training trajectory,
    // test-set scoring, the threshold choice, and all four confusion
    // cells sit under one hash.
    Q("q216_classifier_eval",
      (s, dir) => {
        // The split frame is pinned ONCE (persist — executor-loss-safe,
        // bench-cleanup-reclaimed): five consumers (train/test feature
        // slices, labels, both counts) each re-ran the map-only
        // canonicalize+hash subtree otherwise. ONE feature pass over the
        // whole corpus then serves train AND score — features are per-doc
        // pure, so features(slice) ≡ features(corpus) filtered to the
        // slice's ids, and the former per-slice featurize hashed every
        // gram twice.
        val split = Sampling.assignSplitByContent(t(s, dir, "documents"),
            col("text"), Seq("train" -> 0.5, "test" -> 0.5), seed = "s216")
          .select(col("doc_id"), col("lang"), col("text"), col("split"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val feats = QualityClassifier.features(split, "doc_id", "text",
            buckets = 256)
          .join(split.select(col("doc_id"), col("split"),
            when(col("lang") === "en", lit(1000000L)).otherwise(lit(0L))
              .as("__y")), "doc_id")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .persist()
        val test = split.filter(col("split") === "test")
        val nTrain = split.filter(col("split") === "train").count()
        val w = QualityClassifier.trainOnFeatures(
          feats.filter(col("split") === "train"), "doc_id", nTrain,
          iterations = 2)
        val scored = QualityClassifier.scoreOnFeatures(
          test.select(col("doc_id")),
          feats.filter(col("split") === "test"), "doc_id", w)
        // the ⌈n/2⌉-th smallest margin: TakeOrdered (bounded heaps) over
        // the EVAL slice — eval sets are bounded by design, and the limit
        // is the one corpus-independent constant here
        val nTest = test.count()
        val thr = scored.orderBy(col("margin_micro"))
          .limit(((nTest + 1) / 2).toInt)
          .agg(max(col("margin_micro"))).collect()(0).getLong(0)
        scored
          .join(test.select(col("doc_id"), (col("lang") === "en").as("__y")),
            "doc_id")
          .agg(
            lit(nTrain).as("n_train"),
            count(lit(1)).as("n_test"),
            lit(thr).as("threshold_micro"),
            sum(when(col("margin_micro") > thr && col("__y"), 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("margin_micro") > thr && !col("__y"), 1L)
              .otherwise(0L)).as("fp"),
            sum(when(col("margin_micro") <= thr && col("__y"), 1L)
              .otherwise(0L)).as("fn"),
            sum(when(col("margin_micro") <= thr && !col("__y"), 1L)
              .otherwise(0L)).as("tn"))
      },
      Some(s"""WITH ${dQcTrain(dKeepOf("s216", 0.5, dCanonOf("text")), 2)},
             |${dQcFeatures("t", s"NOT ${dKeepOf("s216", 0.5, dCanonOf("text"))}")},
             |qs AS ${dQcMargin("qw2", "tf")},
             |sctest AS (SELECT d.doc_id, d.lang, COALESCE(qs.m, 0) AS m0
             |           FROM tsrc d LEFT JOIN qs USING (doc_id)),
             |ranked AS (SELECT m0, row_number() OVER (ORDER BY m0) AS rn,
             |             count(*) OVER () AS n
             |           FROM sctest),
             |thr AS (SELECT m0 AS th FROM ranked WHERE rn = (n + 1) // 2)
             |SELECT
             |  (SELECT count(*) FROM qsrc) AS n_train,
             |  count(*) AS n_test,
             |  CAST((SELECT th FROM thr) AS BIGINT) AS threshold_micro,
             |  CAST(sum(CASE WHEN m0 > (SELECT th FROM thr) AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |  CAST(sum(CASE WHEN m0 > (SELECT th FROM thr) AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |  CAST(sum(CASE WHEN m0 <= (SELECT th FROM thr) AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |  CAST(sum(CASE WHEN m0 <= (SELECT th FROM thr) AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn
             |FROM sctest""".stripMargin)),

    // ------------------------------------------------------------------
    // q214 — INCREMENTAL zone-map maintenance (X69's append lifecycle):
    // batch 1 (even order keys) lands range-sharded and gets a manifest;
    // batch 2 (odd keys) appends as NEW files, which makes the manifest
    // STALE — and the read edge proves it refuses to prune against it
    // (the invalidation contract: a skip decision from a manifest that
    // doesn't know every file would silently drop rows). buildIncremental
    // then heals it scanning ONLY the new files (carried/added counts are
    // part of the output), and the refreshed manifest's prune decision is
    // required IN-QUERY to equal a from-scratch full rebuild's. The
    // oracle replays BOTH batches' shard populations (each batch's rn is
    // its own window — exactly the per-batch sort the two writes ran),
    // the union'd interval intersection, and the surviving rows.
    Q("q214_zone_map_incremental",
      (s, dir) => {
        val work = workDir("q214")
        val data = work.resolve("orders_zmi").toString
        val man = work.resolve("manifest").toString
        val manFull = work.resolve("manifest_full").toString
        val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        ZoneMaps.writeRangeSharded(orders.filter(col("o_orderkey") % 2 === 0),
          data, Seq("o_totalprice", "o_orderkey"), rowsPerFile = 1000)
        ZoneMaps.build(s, data, man, Seq("o_totalprice"))
        ZoneMaps.writeRangeSharded(orders.filter(col("o_orderkey") % 2 === 1),
          data, Seq("o_totalprice", "o_orderkey"), rowsPerFile = 1000,
          shardBase = 1000, append = true)
        val rng = Seq(ZoneMaps.Range("o_totalprice", 50000.0, 100000.0))
        val refused =
          try { ZoneMaps.prunedRead(s, data, man, rng); false }
          catch { case _: IllegalStateException => true }
        require(refused, "stale manifest was not refused after the append")
        val (carried, added, dropped) =
          ZoneMaps.buildIncremental(s, data, man, Seq("o_totalprice"))
        require(dropped == 0 && carried > 0 && added > 0,
          s"append refresh shape wrong: carried=$carried added=$added dropped=$dropped")
        val (inc, incStats) = ZoneMaps.prunedRead(s, data, man, rng)
        ZoneMaps.build(s, data, manFull, Seq("o_totalprice"))
        val (_, fullStats) = ZoneMaps.prunedRead(s, data, manFull, rng)
        require(incStats == fullStats,
          s"incremental prune diverged from full rebuild: $incStats vs $fullStats")
        require(incStats.filesKept > 0 && incStats.filesKept < incStats.filesTotal,
          s"zone maps pruned nothing: $incStats")
        inc.agg(
          lit(incStats.filesTotal).as("files_total"),
          lit(incStats.filesKept).as("files_kept"),
          lit(carried).as("carried"),
          lit(added).as("added"),
          count(lit(1)).as("n_rows"),
          Ops.sumDec(col("o_totalprice")).as("sum_price"))
      },
      Some("""WITH s0 AS (SELECT o_totalprice,
             |    (row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) // 1000 AS sh
             |  FROM orders WHERE o_orderkey % 2 = 0),
             |s1 AS (SELECT o_totalprice,
             |    1000 + (row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) // 1000 AS sh
             |  FROM orders WHERE o_orderkey % 2 = 1),
             |zm AS (SELECT sh, min(o_totalprice) AS lo, max(o_totalprice) AS hi
             |       FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
             |       GROUP BY sh)
             |SELECT
             |  (SELECT CAST(count(*) AS INTEGER) FROM zm) AS files_total,
             |  (SELECT CAST(count(*) AS INTEGER) FROM zm
             |     WHERE hi >= 50000 AND lo <= 100000) AS files_kept,
             |  (SELECT CAST(count(DISTINCT sh) AS INTEGER) FROM s0) AS carried,
             |  (SELECT CAST(count(DISTINCT sh) AS INTEGER) FROM s1) AS added,
             |  count(*) AS n_rows,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_totalprice >= 50000 AND o_totalprice <= 100000""".stripMargin)),

    // ------------------------------------------------------------------
    // q215 — the SERVING STACK end-to-end (X60 → X67 → X68 + X19, the
    // published ColBERT/hybrid-search deployment shape): an IVF-PQ index
    // over CLS-pooled document vectors (token 0 of each 5-token bag — the
    // exactly-replayable pooling) generates 20 ANN candidates for the
    // query through ONE pruned index scan; ONLY those survivors'
    // token bags are late-interaction MaxSim-reranked against the query's
    // 5-token bag (the ANN-prefilter layout maxSimTopK's scaladoc cites);
    // the reranked top-10 then fuses with lexical BM25 top-20 through
    // integer-micro RRF. The whole chain — pooling, cell probes, ADC
    // candidates, exact rerank cut, per-token maxima, fused ranks — sits
    // under one hash; the oracle replays every stage relationally.
    Q("q215_serving_rerank_fusion",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val tmp = workDir("q215").toString
        val idx = s"$tmp/index"
        val pooled = emb.filter(col("vec_id") % 5 === 0)
          .select(expr("vec_id DIV 5").as("doc_id"), col("embedding"))
        graft.sim.IvfPqIndex.build(pooled, "doc_id", "embedding",
          pqCodebooks, ivfCentroids, idx)
        val probe = emb.filter(col("vec_id") === 0L)
          .select(lit(0L).as("probe_id"), col("embedding"))
        val ann = graft.sim.IvfPqIndex.searchAll(s, idx, pooled, "doc_id",
          "embedding", probe, "probe_id", "embedding", pqCodebooks,
          ivfCentroids, nProbe = 2, kCand = 30, k = 20)
        val survivors = ann.select("neighbor_id").collect().map(_.getLong(0))
        require(survivors.length == 20,
          s"ANN stage returned ${survivors.length} candidates, wanted 20")
        val docToks = emb
          .select(expr("vec_id DIV 5").as("doc_id"), col("embedding"))
          .filter(col("doc_id").isin(survivors.toSeq: _*))
        val qToks = emb.filter(col("vec_id") < 5)
          .select(lit(0L).as("q_id"), col("vec_id").as("tok"),
            col("embedding"))
        val ms = Similarity.maxSimTopK(docToks, "doc_id", "embedding",
            qToks, "q_id", "tok", "embedding", k = 10)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        val bm = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            col("text"), Seq("spark", "hash", "join"), k = 20)
          .select(col("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(ms, bm), "doc_id", k0 = 60, topK = 10)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |pooled AS (SELECT vec_id // 5 AS doc_id, v FROM e WHERE vec_id % 5 = 0),
             |cellv AS (SELECT doc_id, v, ${dIvfNegScores("v")} AS ns FROM pooled),
             |cell AS (SELECT doc_id, v,
             |    CAST(list_position(ns, list_aggregate(ns, 'min')) - 1 AS INTEGER) AS cell
             |  FROM cellv),
             |enc AS (SELECT doc_id, v, cell, ${dPqCodeList("v")} AS code FROM cell),
             |qn AS (SELECT v AS qv, ${dIvfNegScores("v")} AS qns FROM e WHERE vec_id = 0),
             |probes AS (SELECT CAST(j - 1 AS INTEGER) AS cell FROM (
             |    SELECT j, row_number() OVER (ORDER BY qns[j], j) AS rn
             |    FROM qn, generate_series(1, ${ivfCentroids.size}) t(j)) WHERE rn <= 2),
             |d AS (SELECT enc.doc_id, enc.v,
             |        round(${dPqAdcDist("qn.qv", "enc.code")}, 6) AS dist
             |      FROM probes pr JOIN enc ON enc.cell = pr.cell CROSS JOIN qn),
             |cand AS (SELECT doc_id, v FROM (
             |    SELECT *, row_number() OVER (ORDER BY dist, doc_id) AS rn FROM d)
             |  WHERE rn <= 30),
             |surv AS (SELECT doc_id FROM (
             |    SELECT cand.doc_id,
             |      round(list_dot_product(qn.qv, cand.v)
             |        / (sqrt(list_dot_product(qn.qv, qn.qv))
             |           * sqrt(list_dot_product(cand.v, cand.v))), 6) AS sim
             |    FROM cand CROSS JOIN qn) x
             |  QUALIFY row_number() OVER (ORDER BY sim DESC, doc_id) <= 20),
             |qt AS (SELECT vec_id AS tok, v AS qv FROM e WHERE vec_id < 5),
             |dt AS (SELECT vec_id // 5 AS doc_id, v FROM e
             |       WHERE vec_id // 5 IN (SELECT doc_id FROM surv)),
             |pair AS (SELECT dt.doc_id, qt.tok,
             |    round(list_dot_product(qt.qv, dt.v)
             |      / (sqrt(list_dot_product(qt.qv, qt.qv))
             |         * sqrt(list_dot_product(dt.v, dt.v))), 6) AS s2
             |  FROM qt CROSS JOIN dt),
             |mx AS (SELECT doc_id, tok, max(s2) AS b
             |       FROM pair WHERE NOT isnan(s2) GROUP BY doc_id, tok),
             |sc AS (SELECT doc_id,
             |         CAST(sum(CAST(round(b * 1000000) AS BIGINT)) AS BIGINT) AS sm
             |       FROM mx GROUP BY doc_id),
             |ms AS (SELECT doc_id, rn AS rank FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY sm DESC, doc_id) AS rn
             |    FROM sc) WHERE rn <= 10),
             |tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st),
             |bm AS (SELECT doc_id, rn AS rank FROM (
             |  SELECT doc_id,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |  WHERE rn <= 20),
             |u AS (SELECT doc_id, rank FROM ms UNION ALL SELECT doc_id, rank FROM bm)
             |SELECT doc_id, CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
             |  count(*) AS n_systems
             |FROM u GROUP BY doc_id
             |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q213 — DoReMi domain mixture reweighting (X71, Xie et al.
    // NeurIPS'23): per-source excess losses (a deterministic function of
    // doc length here — the fixture stand-in for a proxy-model loss gap,
    // negative values exercising the paper's clip-at-0 rule) drive 3
    // rounds of multiplicative-weights reweighting; the released α is the
    // average of the iterates. The corpus is touched by exactly ONE
    // aggregation (count + clipped-loss sum per domain); the D-row loop
    // runs driver-side in fixed-point micros, and the oracle unrolls the
    // ENTIRE trajectory relationally (the q208 pattern): w₀ = ⌊1e6/D⌋,
    // factor = round(exp(η·L̄/1e12)·1e6) — the ONE float, re-pinned —
    // then per round raw = w·factor // 1e6 and the floor renormalization
    // w = raw·1e6 // Σraw, all on non-negative dividends so Spark/Scala
    // truncation and DuckDB `//` agree bit-for-bit. Means, final weights,
    // AND iterate averages all sit under one hash.
    Q("q213_doremi_mixture",
      (s, dir) =>
        Sampling.doremiMixture(t(s, dir, "documents"), col("source"),
            (coalesce(length(col("text")), lit(0)) % 500).cast("long")
              * 1000L - 100000L,
            rounds = 3)
          .orderBy("domain"),
      Some("""WITH dl AS (SELECT source AS domain,
             |    greatest((coalesce(len(text), 0) % 500) * 1000 - 100000, 0) AS l
             |  FROM documents WHERE source IS NOT NULL),
             |dm AS (SELECT domain, count(*) AS n,
             |         CAST(sum(l) AS BIGINT) // count(*) AS ml
             |       FROM dl GROUP BY domain),
             |f AS (SELECT domain, n, ml,
             |    CAST(round(exp((200000 * ml) / 1e12) * 1000000) AS BIGINT) AS factor
             |  FROM dm),
             |w0 AS (SELECT domain, 1000000 // (SELECT count(*) FROM dm) AS w FROM dm),
             |r1 AS (SELECT f.domain, w0.w * f.factor // 1000000 AS raw
             |       FROM w0 JOIN f USING (domain)),
             |w1 AS (SELECT domain,
             |         CAST(raw * 1000000 // (SELECT CAST(sum(raw) AS BIGINT) FROM r1) AS BIGINT) AS w
             |       FROM r1),
             |r2 AS (SELECT f.domain, w1.w * f.factor // 1000000 AS raw
             |       FROM w1 JOIN f USING (domain)),
             |w2 AS (SELECT domain,
             |         CAST(raw * 1000000 // (SELECT CAST(sum(raw) AS BIGINT) FROM r2) AS BIGINT) AS w
             |       FROM r2),
             |r3 AS (SELECT f.domain, w2.w * f.factor // 1000000 AS raw
             |       FROM w2 JOIN f USING (domain)),
             |w3 AS (SELECT domain,
             |         CAST(raw * 1000000 // (SELECT CAST(sum(raw) AS BIGINT) FROM r3) AS BIGINT) AS w
             |       FROM r3)
             |SELECT f.domain, f.n AS n_docs, f.ml AS loss_micro,
             |  w3.w AS weight_micro,
             |  CAST((w1.w + w2.w + w3.w) // 3 AS BIGINT) AS alpha_micro
             |FROM f JOIN w1 USING (domain) JOIN w2 USING (domain)
             |       JOIN w3 USING (domain)
             |ORDER BY domain""".stripMargin)),

    // ------------------------------------------------------------------
    // q229 — exact triangle counting (X81, Graph.triangleStats): the
    // part co-occurrence graph of URGENT orders — parts bought together
    // in one priority-1 order get an edge (the "frequently bought
    // together" projection every recommendation pipeline builds, sliced
    // to the segment under study) — then degree-ordered triangle counting
    // per node with local clustering coefficients in micros. The
    // orientation by (degree, id) is the WWW'11 last-reducer fix: each
    // triangle survives as ONE wedge at its lowest-ordered corner, and the
    // oracle replays the identical orientation, wedge join, equi-closure,
    // and floor lcc — every node's (degree, tri, lcc) under one hash.
    // (The priority slice keeps the bench honest too: co-occurrence wedge
    // fan-out is quadratic in degree, and the FULL graph at sf0.1 is 28M
    // wedges of fixture, not of operator — the slice exercises the same
    // plan at a realistic analysis density.)
    Q("q229_triangle_count",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(t(s, dir, "orders")
              .filter(col("o_orderpriority").startsWith("1"))
              .select(col("o_orderkey").as("l_orderkey")),
            "l_orderkey")
          .select("l_orderkey", "l_partkey")
        val edges = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        graft.ops.Graph.triangleStats(edges).orderBy("id")
      },
      Some("""WITH u AS (SELECT l.l_orderkey, l.l_partkey
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE o.o_orderpriority LIKE '1%'),
             |pairs AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM u a JOIN u b ON a.l_orderkey = b.l_orderkey
             |  WHERE a.l_partkey < b.l_partkey),
             |e AS (SELECT DISTINCT u, v FROM pairs),
             |deg AS (SELECT id, count(*) AS degree FROM (
             |    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
             |  GROUP BY 1),
             |o AS (SELECT
             |    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
             |         THEN e.u ELSE e.v END AS s,
             |    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
             |         THEN dv.degree ELSE du.degree END AS td,
             |    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
             |         THEN e.v ELSE e.u END AS ti
             |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
             |tri AS (SELECT w.hub, w.x, w.y FROM (
             |    SELECT a.s AS hub, a.ti AS x, b.ti AS y
             |    FROM o a JOIN o b
             |      ON a.s = b.s AND (a.td, a.ti) < (b.td, b.ti)) w
             |  JOIN o ON o.s = w.x AND o.ti = w.y),
             |pn AS (SELECT id, count(*) AS tri FROM (
             |    SELECT hub AS id FROM tri UNION ALL
             |    SELECT x FROM tri UNION ALL SELECT y FROM tri) GROUP BY 1)
             |SELECT deg.id, deg.degree, coalesce(pn.tri, 0) AS tri,
             |  CASE WHEN deg.degree >= 2
             |       THEN (2 * coalesce(pn.tri, 0) * 1000000)
             |            // (deg.degree * (deg.degree - 1))
             |       ELSE 0 END AS lcc_micro
             |FROM deg LEFT JOIN pn USING (id)
             |ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q230 — multi-touch attribution (X82, TimeSeries.attributeConversions):
    // every purchase distributes exactly 1e6 micros of credit over the
    // user's touches (view/click/signup/error) in the 7 preceding days
    // under the published U-shape rule — 40% first touch, 40% last, the
    // middle 20% floor-split over interior touches with the remainder on
    // the last interior one; touchless purchases credit "(direct)". The
    // full per-(conversion, touch) credit table sits under one hash; ties
    // inside a (user, conversion) window are (ts, channel)-ordered, and
    // identical-key touches yield the same credit MULTISET whichever one
    // row_number picks — so the trailing credit_micro sort key makes the
    // in-order compare engine-stable.
    Q("q230_attribution",
      (s, dir) =>
        graft.ops.TimeSeries.attributeConversions(
            Relational.events(s, dir),
            col("user_id"), col("ts"), col("event_type"),
            col("event_type") === "purchase", lookbackSec = 604800L,
            model = "position")
          .orderBy("user", "conv_ts", "channel", "touch_ts", "credit_micro"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |    event_type FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |conv AS (SELECT user_id, ts AS conv_ts FROM e
             |         WHERE event_type = 'purchase'),
             |tch AS (SELECT user_id, ts AS touch_ts, event_type AS channel
             |        FROM e WHERE event_type <> 'purchase'
             |          AND event_type IS NOT NULL),
             |j AS (SELECT c.user_id, c.conv_ts, t.touch_ts, t.channel
             |      FROM conv c JOIN tch t USING (user_id)
             |      WHERE t.touch_ts < c.conv_ts
             |        AND t.touch_ts >= c.conv_ts - INTERVAL 604800 SECOND),
             |r AS (SELECT *,
             |    row_number() OVER (PARTITION BY user_id, conv_ts
             |      ORDER BY touch_ts, channel) AS pos,
             |    count(*) OVER (PARTITION BY user_id, conv_ts) AS n FROM j),
             |a AS (SELECT user_id AS "user", conv_ts, channel, touch_ts,
             |    CAST(CASE WHEN n = 1 THEN 1000000
             |         WHEN n = 2 THEN 500000
             |         WHEN pos = 1 THEN 400000
             |         WHEN pos = n THEN 400000
             |         ELSE 200000 // (n - 2) +
             |           CASE WHEN pos = n - 1 THEN 200000 % (n - 2)
             |                ELSE 0 END
             |    END AS BIGINT) AS credit_micro FROM r),
             |d AS (SELECT c.user_id AS "user", c.conv_ts,
             |    '(direct)' AS channel, CAST(NULL AS TIMESTAMP) AS touch_ts,
             |    CAST(1000000 AS BIGINT) AS credit_micro
             |  FROM conv c LEFT JOIN (SELECT DISTINCT user_id, conv_ts FROM j) x
             |    ON c.user_id = x.user_id AND c.conv_ts = x.conv_ts
             |  WHERE x.user_id IS NULL)
             |SELECT * FROM (SELECT * FROM a WHERE credit_micro > 0
             |               UNION ALL SELECT * FROM d)
             |ORDER BY "user", conv_ts, channel, touch_ts, credit_micro""".stripMargin)),

    // ------------------------------------------------------------------
    // q231 — split-conformal prediction intervals (X83,
    // Calibrate.splitConformal, composed with X33's hash splitter): wrap
    // the per-priority mean-price predictor in an interval with a
    // DISTRIBUTION-FREE ≥ 90% coverage guarantee, then audit realized
    // per-priority coverage on a disjoint test slice. Orders split
    // 60/20/20 by key hash; the predictor is the train slice's floor-mean
    // price in micros; q̂ is the ⌈(n+1)·0.9⌉-th smallest calibration
    // residual (an order statistic — a value in the data, no
    // interpolation); coverage is covered·1e6 DIV n. The oracle replays
    // the split, the means, the integer rank, the OFFSET order statistic,
    // and every coverage cell — all under one hash.
    Q("q231_conformal_coverage",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_totalprice").isNotNull &&
            col("o_orderpriority").isNotNull)
          .withColumn("__pm",
            expr("CAST(round(o_totalprice * 1000000) AS BIGINT)"))
        val split = Sampling.assignSplit(o, col("o_orderkey"),
          Seq("train" -> 0.6, "cal" -> 0.2, "test" -> 0.2), seed = "s231")
        val means = split.filter(col("split") === "train")
          .groupBy("o_orderpriority")
          .agg(expr("CAST(sum(__pm) AS BIGINT) DIV count(1)").as("__mean"))
        def slice(name: String) =
          split.filter(col("split") === name).join(broadcast(means),
            "o_orderpriority")
        graft.ops.Calibrate.splitConformal(slice("cal"), slice("test"),
            col("__mean"), col("__pm"), alphaMicro = 100000L,
            groups = Seq("o_orderpriority"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |    CAST(round(o_totalprice * 1000000) AS BIGINT) AS pm,
             |    CASE WHEN substr(md5('s231:' || CAST(o_orderkey AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.6)}' THEN 'train'
             |         WHEN substr(md5('s231:' || CAST(o_orderkey AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'cal'
             |         ELSE 'test' END AS split
             |  FROM orders
             |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
             |m AS (SELECT o_orderpriority,
             |    CAST(sum(pm) AS BIGINT) // count(*) AS mean_micro
             |  FROM o WHERE split = 'train' GROUP BY 1),
             |calres AS (SELECT abs(o.pm - m.mean_micro) AS s
             |  FROM o JOIN m USING (o_orderpriority) WHERE split = 'cal'),
             |p AS (SELECT count(*) AS n,
             |    ((count(*) + 1) * 900000 + 999999) // 1000000 AS k
             |  FROM calres),
             |q AS (SELECT (SELECT s FROM calres ORDER BY s
             |              LIMIT 1 OFFSET (SELECT k FROM p) - 1) AS qhat),
             |t AS (SELECT o.o_orderpriority, abs(o.pm - m.mean_micro) AS s
             |  FROM o JOIN m USING (o_orderpriority) WHERE split = 'test')
             |SELECT t.o_orderpriority,
             |  (SELECT n FROM p) AS n_cal, (SELECT k FROM p) AS k_rank,
             |  (SELECT qhat FROM q) AS qhat_micro,
             |  count(*) AS n_test,
             |  CAST(sum(CASE WHEN t.s <= (SELECT qhat FROM q) THEN 1 ELSE 0 END)
             |       AS BIGINT) AS covered,
             |  CAST(sum(CASE WHEN t.s <= (SELECT qhat FROM q) THEN 1 ELSE 0 END)
             |       AS BIGINT) * 1000000 // count(*) AS cov_micro
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q232 — JSON key-path profiling (X84, JsonProfile.pathProfile): the
    // schema census of a semi-structured payload column. The payloads are
    // built IN-QUERY from orders (to_json drops null fields, so presence
    // genuinely varies: open_since exists only for open orders, tags only
    // for urgent ones), then profiled by the variant-recursion census —
    // and the ORACLE never parses JSON at all: it states the expected
    // census directly from the relational ground truth. A divergence
    // anywhere in the parse → walk → classify → aggregate chain (a
    // missed path, a mistyped value, a wrong presence rate) breaks the
    // hash. Depth 3 covers the nested meta object.
    Q("q232_json_path_profile",
      (s, dir) => {
        val payload = to_json(struct(
          col("o_orderkey").as("id"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("total")).as("meta"),
          when(col("o_orderpriority").startsWith("1"),
            array(lit("rush"), lit("alert"))).as("tags"),
          when(col("o_orderstatus") === "O",
            date_format(col("o_orderdate"), "yyyy-MM-dd")).as("open_since")))
        graft.ingest.JsonProfile.pathProfile(
            t(s, dir, "orders").select(payload.as("j")), col("j"))
          .orderBy("path")
      },
      Some("""WITH t AS (SELECT count(*) AS total,
             |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_open,
             |    CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_rush
             |  FROM orders)
             |SELECT path, n, n_object, n_array, n_string, n_number,
             |  n_boolean, n_null,
             |  CAST(n * 1000000 // total AS BIGINT) AS present_micro
             |FROM (
             |  SELECT '$' AS path, total AS n, total AS n_object,
             |    CAST(0 AS BIGINT) AS n_array, CAST(0 AS BIGINT) AS n_string,
             |    CAST(0 AS BIGINT) AS n_number, CAST(0 AS BIGINT) AS n_boolean,
             |    CAST(0 AS BIGINT) AS n_null, total FROM t
             |  UNION ALL SELECT '$.id', total, 0, 0, 0, total, 0, 0, total FROM t
             |  UNION ALL SELECT '$.meta', total, total, 0, 0, 0, 0, 0, total FROM t
             |  UNION ALL SELECT '$.meta.status', total, 0, 0, total, 0, 0, 0, total FROM t
             |  UNION ALL SELECT '$.meta.total', total, 0, 0, 0, total, 0, 0, total FROM t
             |  UNION ALL SELECT '$.open_since', n_open, 0, 0, n_open, 0, 0, 0, total FROM t
             |  UNION ALL SELECT '$.tags', n_rush, 0, n_rush, 0, 0, 0, 0, total FROM t)
             |ORDER BY path""".stripMargin)),

    // ------------------------------------------------------------------
    // q233 — stratified k-fold assignment (X85, Sampling.kFoldAssign):
    // documents dealt into 5 folds with EXACT per-language balance (fold
    // sizes within each lang differ by ≤ 1 — a plain hash mod k drifts
    // ±√n, which on a small language is the difference between a usable
    // validation fold and an empty one). The md5 rank order and the
    // mod-k deal are both engine-replayable; the per-(lang, fold) census
    // under one hash IS the balance proof.
    Q("q233_stratified_kfold",
      (s, dir) =>
        Sampling.kFoldAssign(t(s, dir, "documents"), col("doc_id"),
            Seq("lang"), k = 5, seed = "s233")
          .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "fold"),
      Some("""WITH r AS (SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY substr(md5('s233:' || CAST(doc_id AS VARCHAR)), 1, 8),
             |        doc_id) AS rn
             |  FROM (SELECT DISTINCT lang, doc_id FROM documents
             |        WHERE doc_id IS NOT NULL))
             |SELECT d.lang, CAST((r.rn - 1) % 5 AS INT) AS fold,
             |  count(*) AS n_docs
             |FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
             |  AND d.doc_id = r.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q234 — A/B experiment scorecard (X86, Experiment.abScorecard,
    // assignment by X6's hash splitter): users deal 50/25/25 into
    // control/t1/t2 on their id hash, the unit-level metric is each
    // user's exact micro-summed event value, and the scorecard reports
    // per-arm means, lift, and the Welch z against control. Everything
    // through the variance numerators is exact integer (HUGEINT in the
    // oracle); the only floats are the final conversions, two divisions,
    // and one sqrt — all IEEE-correctly-rounded, so the oracle's replay
    // of the same formula lands on the same bits (no exp/ln ulp caveat).
    Q("q234_ab_scorecard",
      (s, dir) => {
        val perUser = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .groupBy("user_id")
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("m"))
        val armed = Sampling.assignSplit(perUser, col("user_id"),
          Seq("control" -> 0.5, "t1" -> 0.25, "t2" -> 0.25), seed = "s234")
        graft.ops.Experiment.abScorecard(armed, col("split"), col("m"),
            control = "control")
          .orderBy("arm")
      },
      Some(s"""WITH pu AS (SELECT user_id,
             |    sum(CAST(round(value * 1000000) AS BIGINT)) AS m
             |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
             |  GROUP BY 1),
             |armed AS (SELECT CAST(m AS HUGEINT) AS m,
             |    CASE WHEN substr(md5('s234:' || CAST(user_id AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.5)}' THEN 'control'
             |         WHEN substr(md5('s234:' || CAST(user_id AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.75)}' THEN 't1'
             |         ELSE 't2' END AS arm FROM pu),
             |g AS (SELECT arm, count(*) AS n, sum(m) AS s, sum(m * m) AS q
             |      FROM armed GROUP BY 1),
             |c AS (SELECT * FROM g WHERE arm = 'control')
             |SELECT t.arm, c.n AS n_control, t.n AS n_arm,
             |  CAST(c.s // c.n AS BIGINT) AS mean_control_micro,
             |  CAST(t.s // t.n AS BIGINT) AS mean_arm_micro,
             |  CAST(t.s // t.n - c.s // c.n AS BIGINT) AS diff_micro,
             |  CASE WHEN c.s // c.n <= 0 THEN NULL
             |       ELSE CAST((t.s // t.n - c.s // c.n) * 1000000
             |                 // (c.s // c.n) AS BIGINT) END AS lift_micro,
             |  CAST(round((CAST(t.s // t.n - c.s // c.n AS DOUBLE)
             |    / sqrt(CAST(t.n * t.q - t.s * t.s AS DOUBLE)
             |             / CAST(CAST(t.n AS HUGEINT) * t.n * (t.n - 1) AS DOUBLE)
             |         + CAST(c.n * c.q - c.s * c.s AS DOUBLE)
             |             / CAST(CAST(c.n AS HUGEINT) * c.n * (c.n - 1) AS DOUBLE)))
             |    * 1000000) AS BIGINT) AS z_micro,
             |  abs(CAST(round((CAST(t.s // t.n - c.s // c.n AS DOUBLE)
             |    / sqrt(CAST(t.n * t.q - t.s * t.s AS DOUBLE)
             |             / CAST(CAST(t.n AS HUGEINT) * t.n * (t.n - 1) AS DOUBLE)
             |         + CAST(c.n * c.q - c.s * c.s AS DOUBLE)
             |             / CAST(CAST(c.n AS HUGEINT) * c.n * (c.n - 1) AS DOUBLE)))
             |    * 1000000) AS BIGINT)) > 1960000 AS significant
             |FROM g t, c WHERE t.arm <> 'control' ORDER BY t.arm""".stripMargin)),

    // ------------------------------------------------------------------
    // q235 — STREAMING drift monitor (X75 ⊗ X80, the production
    // monitoring stack end to end): the dashboard aggregate a detector
    // watches cannot re-scan its corpus per refresh, so daily event
    // counts are maintained as a materialized AggView — day-0 rolls the
    // first ten days into segment 0, two arrival-ordered micro-batches
    // commit their own days as exactly-once ledger segments with an
    // in-loop merge-fold compact — and CUSUM then runs over the
    // O(groups) VIEW, never the raw events. In-query: the streamed view
    // must equal the direct daily rollup value-for-value; the oracle
    // replays the whole detector trajectory over the direct counts
    // (k = 60 events/day of slack, alarm at 40 — a different operating
    // point than q228's batch face).
    Q("q235_streaming_drift_monitor",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
        val work = workDir("q235")
        val gc = Seq("event_type", "day")
        val ms = Seq.empty[graft.ops.AggView.Measure]
        require(graft.ops.AggView.commitSegment(s, work.toString, "dm", 0L,
          daily.filter(col("day") < 19740), gc, ms),
          "day-0 segment did not commit")
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          graft.ops.AggView.commitSegment(s, work.toString, "dm",
            batchId + 1, batch, gc, ms)
          graft.ops.AggView.compact(s, work.toString, "dm", gc, ms,
            maxDeltas = 1)
        }
        Staging.fileStream(work,
          daily.filter(col("day") >= 19740 && col("day") < 19750),
          daily.filter(col("day") >= 19750)).drain(onBatch)
        val view = graft.ops.AggView.read(s, work.toString, "dm", gc, ms)
        val direct = daily.groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"))
        val a = view.select("event_type", "day", "cnt")
          .orderBy("event_type", "day").collect().toSeq
        val b = direct.orderBy("event_type", "day").collect().toSeq
        require(a == b, "streamed view diverged from the direct daily rollup")
        graft.ops.TimeSeries.cusum(
            view.select(col("event_type"), col("day"), col("cnt")),
            Seq("event_type"), "day",
            col("cnt"), kMicro = 60000000L, hMicro = 40000000L)
          .orderBy("event_type", "day")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |c AS (SELECT event_type, day, count(*) AS cnt
             |      FROM e GROUP BY 1, 2),
             |p AS (SELECT event_type, day, cnt,
             |    sum(cnt * 1000000 - 60000000) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS pp
             |  FROM c)
             |SELECT event_type, day, cnt,
             |  CAST(pp - least(0, min(pp) OVER (PARTITION BY event_type
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW)) AS BIGINT) AS s_micro,
             |  (pp - least(0, min(pp) OVER (PARTITION BY event_type
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW))) > 40000000 AS alarm
             |FROM p ORDER BY event_type, day""".stripMargin)),

    // ------------------------------------------------------------------
    // q236 — Markov event-flow analysis (X87, Markov.transitions +
    // .stationary): each user's event stream ordered (ts, type) becomes
    // a 5-state transition matrix with floor-micro row probabilities,
    // then 3 fixed-point power rounds from the uniform start give the
    // stationary distribution — where user behavior spends its time.
    // The oracle replays the lag pairing, the row normalization, AND the
    // whole 3-round trajectory relationally (the q213 unroll pattern:
    // each round one join-aggregate + one floor renormalization); matrix
    // and π sit under one hash.
    Q("q236_event_flow_markov",
      (s, dir) => {
        val tr = graft.ops.Markov.transitions(Relational.events(s, dir),
          col("user_id"), col("ts"), col("event_type"))
        val pi = graft.ops.Markov.stationary(tr, rounds = 3)
        tr.join(pi, tr("prev_state") === pi("state"))
          .select(col("prev_state"), col("next_state"), col("n"),
            col("p_micro"), col("pi_micro"))
          .orderBy("prev_state", "next_state")
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_type) AS prev
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |tr AS (SELECT prev AS prev_state, event_type AS next_state,
             |    count(*) AS n FROM ev WHERE prev IS NOT NULL GROUP BY 1, 2),
             |trp AS (SELECT prev_state, next_state, n,
             |    CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_state)
             |         AS BIGINT) AS p_micro FROM tr),
             |st AS (SELECT DISTINCT prev_state AS state FROM trp),
             |pi0 AS (SELECT state,
             |    1000000 // (SELECT count(*) FROM st) AS pi FROM st),
             |r1 AS (SELECT t.next_state AS state,
             |    CAST(sum(p.pi * t.p_micro) // 1000000 AS BIGINT) AS raw
             |  FROM pi0 p JOIN trp t ON p.state = t.prev_state GROUP BY 1),
             |pi1 AS (SELECT st.state,
             |    CAST(COALESCE(r1.raw, 0) * 1000000
             |         // (SELECT sum(raw) FROM r1) AS BIGINT) AS pi
             |  FROM st LEFT JOIN r1 ON st.state = r1.state),
             |r2 AS (SELECT t.next_state AS state,
             |    CAST(sum(p.pi * t.p_micro) // 1000000 AS BIGINT) AS raw
             |  FROM pi1 p JOIN trp t ON p.state = t.prev_state GROUP BY 1),
             |pi2 AS (SELECT st.state,
             |    CAST(COALESCE(r2.raw, 0) * 1000000
             |         // (SELECT sum(raw) FROM r2) AS BIGINT) AS pi
             |  FROM st LEFT JOIN r2 ON st.state = r2.state),
             |r3 AS (SELECT t.next_state AS state,
             |    CAST(sum(p.pi * t.p_micro) // 1000000 AS BIGINT) AS raw
             |  FROM pi2 p JOIN trp t ON p.state = t.prev_state GROUP BY 1),
             |pi3 AS (SELECT st.state,
             |    CAST(COALESCE(r3.raw, 0) * 1000000
             |         // (SELECT sum(raw) FROM r3) AS BIGINT) AS pi
             |  FROM st LEFT JOIN r3 ON st.state = r3.state)
             |SELECT trp.prev_state, trp.next_state, trp.n, trp.p_micro,
             |  pi3.pi AS pi_micro
             |FROM trp JOIN pi3 ON trp.prev_state = pi3.state
             |ORDER BY prev_state, next_state""".stripMargin)),

    // ------------------------------------------------------------------
    // q237 — key-skew profiler (X88, Ops.skewProfile): the diagnosis the
    // X78 threshold and the J6 salt factor are chosen FROM, run over the
    // exact key construction q224 joins on (30% of part keys folded into
    // one mega-key). The report pins the mega-key at rank 1 with its
    // share, cumulative concentration, and multiple-of-uniform — all
    // floor micros the oracle replays row for row.
    Q("q237_skew_profile",
      (s, dir) =>
        graft.ops.Ops.skewProfile(
          t(s, dir, "lineitem").select(
            when(pmod(col("l_partkey"), lit(10)) < 3, lit(0L))
              .otherwise(col("l_partkey")).as("k")),
          col("k"), topK = 8),
      Some("""WITH k AS (SELECT CASE WHEN l_partkey % 10 < 3 THEN '0'
             |      ELSE CAST(l_partkey AS VARCHAR) END AS key FROM lineitem),
             |c AS (SELECT key, count(*) AS n FROM k GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             |      count(*) AS n_keys FROM c),
             |r AS (SELECT key, n,
             |    row_number() OVER (ORDER BY n DESC, key) AS rank,
             |    sum(n) OVER (ORDER BY n DESC, key
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 8))
             |SELECT r.rank, r.key, r.n,
             |  CAST(r.n * 1000000 // t.n_rows AS BIGINT) AS share_micro,
             |  CAST(r.cum * 1000000 // t.n_rows AS BIGINT) AS cum_share_micro,
             |  CAST((r.n * 1000000 // t.n_rows) * t.n_keys AS BIGINT)
             |    AS vs_uniform_micro,
             |  t.n_rows, t.n_keys
             |FROM r, t ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q239 — grid-bucketed proximity join (X90, Spatial.proximityJoin):
    // customers placed on a 1M×1M integer grid by md5 (the engine-
    // replayable coordinate synthesis — the fixtures carry no geometry,
    // the SHAPE of the join is what's under test), all pairs within
    // radius 20k found through radius-sized cells + a 3×3 neighbor
    // equi-join + the exact Long distance test. The oracle brute-forces
    // the same pairs — grid ≡ cross-product-filter is the correctness
    // claim, and every d² is exact integer so the whole pair list sits
    // under one hash.
    Q("q239_proximity_join",
      (s, dir) => {
        def coord(axis: String) =
          conv(substring(md5(concat(lit(s"geo:$axis:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000L
        val pts = t(s, dir, "customer")
          .select(col("c_custkey").as("id"),
            coord("x").as("x"), coord("y").as("y"))
        graft.ops.Spatial.proximityJoin(pts, col("id"), col("x"), col("y"),
            radius = 20000L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH pts AS (SELECT c_custkey AS id,
             |    ('0x' || substr(md5('geo:x:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 1000000 AS x,
             |    ('0x' || substr(md5('geo:y:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 1000000 AS y
             |  FROM customer)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  CAST((CAST(a.x AS BIGINT) - CAST(b.x AS BIGINT))
             |       * (CAST(a.x AS BIGINT) - CAST(b.x AS BIGINT))
             |     + (CAST(a.y AS BIGINT) - CAST(b.y AS BIGINT))
             |       * (CAST(a.y AS BIGINT) - CAST(b.y AS BIGINT)) AS BIGINT) AS d2
             |FROM pts a JOIN pts b ON a.id < b.id
             |WHERE (CAST(a.x AS BIGINT) - CAST(b.x AS BIGINT))
             |      * (CAST(a.x AS BIGINT) - CAST(b.x AS BIGINT))
             |    + (CAST(a.y AS BIGINT) - CAST(b.y AS BIGINT))
             |      * (CAST(a.y AS BIGINT) - CAST(b.y AS BIGINT))
             |    <= 400000000
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q240 — experiment readout over a funnel metric (X73 ⊗ X86, the
    // composition every growth team actually ships): users deal 50/25/25
    // into arms by id hash, each user's metric is whether they completed
    // the view→click→purchase funnel inside a day (1e6 or 0 — so the
    // Welch z IS the two-proportion test), and the scorecard reports
    // per-arm conversion means, lift, and significance against control.
    // Arms are hash-assigned AFTER the funnel is computed from the same
    // events for every user, so true effects are zero by construction —
    // the scorecard's job here is to say "not significant", and the
    // oracle replays funnel, assignment, and the exact Welch formula to
    // the bit.
    Q("q240_funnel_experiment",
      (s, dir) => {
        val ev = Relational.events(s, dir)
        val lv = graft.ops.TimeSeries.funnelLevels(ev, col("user_id"),
          col("ts"), col("event_type"), Seq("view", "click", "purchase"),
          windowSec = 86400)
        val users = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").as("user")).distinct()
        val metric = users.join(lv, Seq("user"), "left")
          .select(col("user"),
            when(col("level") >= 3, 1000000L).otherwise(0L).as("m"))
        val armed = Sampling.assignSplit(metric, col("user"),
          Seq("control" -> 0.5, "t1" -> 0.25, "t2" -> 0.25), seed = "s240")
        graft.ops.Experiment.abScorecard(armed, col("split"), col("m"),
            control = "control")
          .orderBy("arm")
      },
      Some(s"""WITH ev AS (SELECT user_id AS u, ts, event_type AS et FROM events
             |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |c1 AS (SELECT u, ts AS t1, ts AS tk FROM ev WHERE et = 'view'),
             |c2 AS (SELECT c.u, c.t1, min(e.ts) AS tk
             |       FROM c1 c JOIN ev e ON e.u = c.u
             |       WHERE e.et = 'click' AND e.ts > c.tk
             |         AND e.ts <= c.t1 + INTERVAL 86400 SECOND
             |       GROUP BY c.u, c.t1),
             |c3 AS (SELECT c.u, c.t1, min(e.ts) AS tk
             |       FROM c2 c JOIN ev e ON e.u = c.u
             |       WHERE e.et = 'purchase' AND e.ts > c.tk
             |         AND e.ts <= c.t1 + INTERVAL 86400 SECOND
             |       GROUP BY c.u, c.t1),
             |lv AS (SELECT u, max(l) AS level FROM (
             |    SELECT u, 1 AS l FROM c1
             |    UNION ALL SELECT u, 2 FROM c2
             |    UNION ALL SELECT u, 3 FROM c3) GROUP BY u),
             |met AS (SELECT d.u,
             |    CASE WHEN coalesce(lv.level, 0) >= 3 THEN 1000000
             |         ELSE 0 END AS m
             |  FROM (SELECT DISTINCT u FROM ev) d LEFT JOIN lv ON d.u = lv.u),
             |armed AS (SELECT CAST(m AS HUGEINT) AS m,
             |    CASE WHEN substr(md5('s240:' || CAST(u AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.5)}' THEN 'control'
             |         WHEN substr(md5('s240:' || CAST(u AS VARCHAR)), 1, 8)
             |              < '${graft.ops.Sampling.hexThreshold(0.75)}' THEN 't1'
             |         ELSE 't2' END AS arm FROM met),
             |g AS (SELECT arm, count(*) AS n, sum(m) AS s, sum(m * m) AS q
             |      FROM armed GROUP BY 1),
             |c AS (SELECT * FROM g WHERE arm = 'control')
             |SELECT t.arm, c.n AS n_control, t.n AS n_arm,
             |  CAST(c.s // c.n AS BIGINT) AS mean_control_micro,
             |  CAST(t.s // t.n AS BIGINT) AS mean_arm_micro,
             |  CAST(t.s // t.n - c.s // c.n AS BIGINT) AS diff_micro,
             |  CASE WHEN c.s // c.n <= 0 THEN NULL
             |       ELSE CAST((t.s // t.n - c.s // c.n) * 1000000
             |                 // (c.s // c.n) AS BIGINT) END AS lift_micro,
             |  CAST(round((CAST(t.s // t.n - c.s // c.n AS DOUBLE)
             |    / sqrt(CAST(t.n * t.q - t.s * t.s AS DOUBLE)
             |             / CAST(CAST(t.n AS HUGEINT) * t.n * (t.n - 1) AS DOUBLE)
             |         + CAST(c.n * c.q - c.s * c.s AS DOUBLE)
             |             / CAST(CAST(c.n AS HUGEINT) * c.n * (c.n - 1) AS DOUBLE)))
             |    * 1000000) AS BIGINT) AS z_micro,
             |  abs(CAST(round((CAST(t.s // t.n - c.s // c.n AS DOUBLE)
             |    / sqrt(CAST(t.n * t.q - t.s * t.s AS DOUBLE)
             |             / CAST(CAST(t.n AS HUGEINT) * t.n * (t.n - 1) AS DOUBLE)
             |         + CAST(c.n * c.q - c.s * c.s AS DOUBLE)
             |             / CAST(CAST(c.n AS HUGEINT) * c.n * (c.n - 1) AS DOUBLE)))
             |    * 1000000) AS BIGINT)) > 1960000 AS significant
             |FROM g t, c WHERE t.arm <> 'control' ORDER BY t.arm""".stripMargin)),

    // ------------------------------------------------------------------
    // q241 — grid interpolation (X91, TimeSeries.interpolateGrid): daily
    // per-type value sums observed only every third day (the sparse-
    // sensor shape) resampled onto the full daily grid by exact
    // integer-micro linear blends — on-observation instants exact,
    // between-instants floor blends, nothing extrapolated past either
    // end. The oracle replays the same union-window construction:
    // backward/forward IGNORE NULLS frames over one (type, instant)
    // order, HUGEINT blend, truncating division.
    Q("q241_grid_interpolation",
      (s, dir) => {
        val obs = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull &&
            col("value").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"),
            expr("CAST(round(value * 1000000) AS BIGINT)").as("m"))
          .filter(pmod(col("day"), lit(3)) === 0)
          .groupBy("event_type", "day")
          .agg(sum(col("m")).as("v"))
          .select(col("event_type"),
            timestamp_micros(expr("day * 86400000000")).as("t"), col("v"))
        graft.ops.TimeSeries.interpolateGrid(obs, Seq("event_type"), "t",
            col("v"), stepSec = 86400L)
          .orderBy("event_type", "grid_ts_us")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(round(value * 1000000) AS BIGINT) AS m
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |    AND value IS NOT NULL),
             |obs AS (SELECT event_type, day * 86400000000 AS t,
             |    CAST(sum(m) AS BIGINT) AS v
             |  FROM e WHERE day % 3 = 0 GROUP BY event_type, day),
             |rng AS (SELECT event_type, min(t) AS lo, max(t) AS hi
             |        FROM obs GROUP BY event_type),
             |grid AS (SELECT event_type,
             |    unnest(range(lo, hi + 1, 86400000000)) AS t,
             |    CAST(NULL AS BIGINT) AS v, TRUE AS isg FROM rng),
             |u AS (SELECT event_type, t, v, FALSE AS isg FROM obs
             |      UNION ALL SELECT * FROM grid),
             |w AS (SELECT event_type, t, v, isg,
             |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
             |      ORDER BY t, isg ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS v0,
             |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t, isg
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
             |      ORDER BY t, isg ROWS BETWEEN CURRENT ROW
             |      AND UNBOUNDED FOLLOWING) AS v1,
             |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t, isg
             |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
             |  FROM u)
             |SELECT event_type, t AS grid_ts_us,
             |  CASE WHEN t0 = t THEN v0
             |       ELSE CAST((CAST(v0 AS HUGEINT) * (t1 - t)
             |                + CAST(v1 AS HUGEINT) * (t - t0))
             |            // (t1 - t0) AS BIGINT) END AS v_micro,
             |  t0 <> t AS interpolated
             |FROM w
             |WHERE isg AND v0 IS NOT NULL AND (v1 IS NOT NULL OR t0 = t)
             |ORDER BY event_type, grid_ts_us""".stripMargin)),

    // ------------------------------------------------------------------
    // q242 — entity-resolution pipeline (X16 ⊗ X40 ⊗ §2.4, the deployed
    // MDM shape end to end): a dirty registry — every customer under an
    // md5-derived display name, with every fifth customer ALSO present
    // as a typo'd re-registration (name + one trailing char, stale
    // balance) — resolved by deletion-neighborhood fuzzy blocking (never
    // a cross product), transitive closure into entity clusters, and
    // SURVIVORSHIP: one golden record per cluster with the min-key
    // member's name (the cluster label), the best field value across
    // members (max balance — the fresh one wins), and the member list in
    // deterministic order. (The md5 names matter: the fixtures' own
    // sequential names sit at edit distance 1 from each other and chain
    // the whole table into one entity — real registries separate; these
    // do too.) The oracle rebuilds the registry, brute-forces the
    // blocking, replays the closure as a recursive CTE, and applies the
    // same survivorship rules — the whole master-data table under one
    // hash.
    Q("q242_entity_resolution",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val nm = substring(md5(concat(lit("er:"),
          col("c_custkey").cast("string"))), 1, 12)
        val orig = c.select(col("c_custkey").as("id"), nm.as("nm"),
          col("c_acctbal").as("bal"))
        val dup = c.filter(pmod(col("c_custkey"), lit(5)) === 0)
          .select((col("c_custkey") + 10000000L).as("id"),
            concat(nm, lit("x")).as("nm"),
            (col("c_acctbal") - 1.0).as("bal"))
        val reg = orig.unionByName(dup)
        val pairs = graft.ops.FuzzyJoin.fuzzyJoin(reg, "id", "nm",
            reg, "id", "nm", maxDist = 1)
          .filter(col("left_id") < col("right_id"))
          .select(col("left_id").as("id_a"), col("right_id").as("id_b"))
        val comp = Dedup.connectedComponents(pairs, reg.select(col("id")), "id")
        val golden = comp.join(reg, "id")
          .groupBy(col("component").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("bal")).as("best_bal"),
            concat_ws(",",
              transform(array_sort(collect_list(col("id"))),
                _.cast("string"))).as("members"))
        golden.join(reg.select(col("id").as("cluster_id"),
            col("nm").as("rep_name")), "cluster_id")
          .select("cluster_id", "rep_name", "n_members", "best_bal",
            "members")
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE reg AS (
             |  SELECT c_custkey AS id,
             |    substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 12) AS nm,
             |    c_acctbal AS bal
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey + 10000000,
             |    substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 12) || 'x',
             |    c_acctbal - 1.0
             |  FROM customer WHERE c_custkey % 5 = 0),
             |fpairs AS (
             |  SELECT a.id AS id_a, b.id AS id_b
             |  FROM reg a JOIN reg b ON a.id < b.id
             |  WHERE levenshtein(a.nm, b.nm) <= 1),
             |edges AS (SELECT id_a AS a, id_b AS b FROM fpairs
             |          UNION SELECT id_b, id_a FROM fpairs),
             |reach(src, dst) AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
             |comp AS (SELECT src AS k, min(dst) AS mn FROM reach GROUP BY src),
             |lab AS (SELECT reg.id, reg.bal,
             |    COALESCE(least(comp.mn, reg.id), reg.id) AS cluster_id
             |  FROM reg LEFT JOIN comp ON comp.k = reg.id),
             |g AS (SELECT cluster_id, count(*) AS n_members,
             |    max(bal) AS best_bal,
             |    string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
             |  FROM lab GROUP BY 1)
             |SELECT g.cluster_id, r.nm AS rep_name, g.n_members,
             |  g.best_bal, g.members
             |FROM g JOIN reg r ON r.id = g.cluster_id
             |ORDER BY cluster_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q243 — exact per-group percentiles (X92, Ops.exactPercentiles):
    // the SLA-report shape — P50/P95/P99 of line price per return flag,
    // nearest-rank EXACT (a value in the data; what q109's KLL sketch
    // answers approximately, this answers precisely — the trade between
    // the two IS the design point). One keyed window + one conditional-
    // pick aggregation; the oracle replays the identical rank
    // construction.
    Q("q243_exact_percentiles",
      (s, dir) =>
        graft.ops.Ops.exactPercentiles(
            t(s, dir, "lineitem").filter(col("l_extendedprice").isNotNull),
            Seq("l_returnflag"),
            expr("CAST(round(l_extendedprice * 1000000) AS BIGINT)"),
            Seq("p50_micro" -> 500000L, "p95_micro" -> 950000L,
              "p99_micro" -> 990000L))
          .orderBy("l_returnflag"),
      Some("""WITH v AS (SELECT l_returnflag AS g,
             |    CAST(round(l_extendedprice * 1000000) AS BIGINT) AS m
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |r AS (SELECT g, m,
             |    row_number() OVER (PARTITION BY g ORDER BY m) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n FROM v)
             |SELECT g AS l_returnflag, count(*) AS n,
             |  max(CASE WHEN rn = greatest(1, (500000 * n + 999999) // 1000000)
             |           THEN m END) AS p50_micro,
             |  max(CASE WHEN rn = greatest(1, (950000 * n + 999999) // 1000000)
             |           THEN m END) AS p95_micro,
             |  max(CASE WHEN rn = greatest(1, (990000 * n + 999999) // 1000000)
             |           THEN m END) AS p99_micro
             |FROM r GROUP BY g ORDER BY g""".stripMargin)),

    // ------------------------------------------------------------------
    // q244 — PII pseudonymization (X93, TextStats.pseudonymizePii): each
    // document's contact line carries a repeated personal email, a second
    // address, and a host IP; pseudonymization must map every occurrence
    // of one value to ONE stable tag (referential integrity — the reason
    // to pseudonymize instead of X4's blanket redaction) and distinct
    // values to distinct tags. The payload is built in-query from doc_id,
    // so the ORACLE knows the ground-truth matches and computes each
    // row's expected rewrite directly — any extraction, ordering, or
    // hashing divergence in the operator's fold breaks the hash.
    Q("q244_pii_pseudonyms",
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val payload = concat(lit("contact u"), id, lit("@ex.org twice u"),
          id, lit("@ex.org cc admin"), id, lit("@hq.net from 10."),
          pmod(col("doc_id"), lit(200)).cast("string"), lit(".0.7"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextStats.pseudonymizePii(payload, "s244").as("clean"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  replace(replace(replace(
             |    'contact u' || i || '@ex.org twice u' || i ||
             |      '@ex.org cc admin' || i || '@hq.net from 10.' || m || '.0.7',
             |    'u' || i || '@ex.org',
             |    '<EMAIL:' || substr(md5('s244:u' || i || '@ex.org'), 1, 8) || '>'),
             |    'admin' || i || '@hq.net',
             |    '<EMAIL:' || substr(md5('s244:admin' || i || '@hq.net'), 1, 8) || '>'),
             |    '10.' || m || '.0.7',
             |    '<IP:' || substr(md5('s244:10.' || m || '.0.7'), 1, 8) || '>')
             |    AS clean
             |FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS i,
             |        CAST(doc_id % 200 AS VARCHAR) AS m FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q245 — pipeline-level dictionary encoding (X94, Layout.buildDict/
    // dictEncode/dictDecode): source and lang encode to order-preserving
    // dense-rank codes, the rollup runs ENTIRELY on 8-byte codes (the
    // point: shuffles compare ints, not strings), and the decode at the
    // edge restores values. In-query: the code-side rollup must equal
    // the direct string-side rollup value-for-value. The output carries
    // BOTH codes and values, so the oracle pins the dictionary itself
    // (dense_rank over the value order) along with the aggregates.
    Q("q245_dictionary_encoding",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("source").isNotNull && col("lang").isNotNull)
        val sDict = Layout.buildDict(docs, "source")
        val lDict = Layout.buildDict(docs, "lang")
        val enc = Layout.dictEncode(
          Layout.dictEncode(docs.select("source", "lang", "n_chars"),
            "source", sDict), "lang", lDict)
        val rolled = enc.groupBy("source_code", "lang_code")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        val out = Layout.dictDecode(
            Layout.dictDecode(rolled, "source", sDict), "lang", lDict)
          .select("source", "lang", "n_docs", "chars")
        val direct = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        val a = out.orderBy("source", "lang").collect().toSeq
        val b = direct.select("source", "lang", "n_docs", "chars")
          .orderBy("source", "lang").collect().toSeq
        require(a == b, "code-side rollup diverged from the string rollup")
        // re-attach the codes for the output so the dictionary is pinned
        Layout.dictEncode(Layout.dictEncode(out, "source", sDict),
            "lang", lDict)
          .join(broadcast(sDict.select(col("code").as("source_code"),
            col("value").as("source"))), "source_code")
          .join(broadcast(lDict.select(col("code").as("lang_code"),
            col("value").as("lang"))), "lang_code")
          .select("source_code", "source", "lang_code", "lang", "n_docs",
            "chars")
          .orderBy("source", "lang")
      },
      Some("""WITH d AS (SELECT source, lang, n_chars FROM documents
             |  WHERE source IS NOT NULL AND lang IS NOT NULL),
             |g AS (SELECT source, lang, count(*) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS chars
             |  FROM d GROUP BY source, lang)
             |SELECT CAST(dense_rank() OVER (ORDER BY source) AS BIGINT)
             |    AS source_code,
             |  source,
             |  CAST(dense_rank() OVER (ORDER BY lang) AS BIGINT) AS lang_code,
             |  lang, n_docs, chars
             |FROM g ORDER BY source, lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q246 — point-in-polygon containment join (X95,
    // Spatial.containsJoin): 25 nation "territories" — md5-placed
    // rectangles on the same 1M grid q239's customers live on — each
    // customer tagged with every territory containing it, through the
    // bbox-cell equi-join prefilter and the exact integer ray cast. The
    // oracle exploits what the parity rule PROVABLY reduces to on an
    // axis-aligned ring ((x0,y0),(x1,y0),(x1,y1),(x0,y1)): horizontal
    // edges never straddle, the two vertical edges cross iff
    // y0 ≤ py < y1 and px < x1 (resp. px < x0), so odd parity ⇔
    // x0 ≤ px < x1 AND y0 ≤ py < y1 — the half-open box. Any deviation
    // in the operator's edge walk, sign handling, or cell prefilter
    // breaks the hash.
    Q("q246_point_in_polygon",
      (s, dir) => {
        def coord(axis: String) =
          conv(substring(md5(concat(lit(s"geo:$axis:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000L
        val pts = t(s, dir, "customer")
          .select(col("c_custkey").as("id"),
            coord("x").as("x"), coord("y").as("y"))
        def h(tag: String, m: Long) =
          conv(substring(md5(concat(lit(s"ter:$tag:"),
            col("n_nationkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % m
        val rects = t(s, dir, "nation")
          .select(col("n_nationkey").as("gid"),
            h("x", 800000L).as("x0"), h("y", 800000L).as("y0"),
            (h("w", 150000L) + 100000L).as("w"),
            (h("h", 150000L) + 100000L).as("h"))
          .select(col("gid"), expr(
            "array(struct(x0 AS x, y0 AS y), " +
              "struct(x0 + w AS x, y0 AS y), " +
              "struct(x0 + w AS x, y0 + h AS y), " +
              "struct(x0 AS x, y0 + h AS y))").as("poly"))
        graft.ops.Spatial.containsJoin(pts, col("id"), col("x"), col("y"),
            rects, col("gid"), col("poly"), cellSize = 250000L)
          .orderBy("point_id", "poly_id")
      },
      Some("""WITH pts AS (SELECT c_custkey AS id,
             |    ('0x' || substr(md5('geo:x:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 1000000 AS x,
             |    ('0x' || substr(md5('geo:y:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 1000000 AS y
             |  FROM customer),
             |rects AS (SELECT n_nationkey AS gid,
             |    ('0x' || substr(md5('ter:x:' || CAST(n_nationkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 800000 AS x0,
             |    ('0x' || substr(md5('ter:y:' || CAST(n_nationkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 800000 AS y0,
             |    ('0x' || substr(md5('ter:w:' || CAST(n_nationkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 150000 + 100000 AS w,
             |    ('0x' || substr(md5('ter:h:' || CAST(n_nationkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 150000 + 100000 AS h
             |  FROM nation)
             |SELECT p.id AS point_id, r.gid AS poly_id
             |FROM pts p JOIN rects r
             |  ON p.x >= r.x0 AND p.x < r.x0 + r.w
             | AND p.y >= r.y0 AND p.y < r.y0 + r.h
             |ORDER BY point_id, poly_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q247 — exact χ² association (X96, Ops.chiSquare): does order
    // priority move with order status? The full 15-cell contingency
    // table with exact integral expected values and cell terms — the
    // (N·O − rT·cT)²/(N·rT·cT) identity assembled two-stage so nothing
    // leaves the DECIMAL(38)/HUGEINT budget — plus N, dof, and the χ²
    // total, all under one hash. The oracle replays margins, the
    // identity, and the two-stage division verbatim.
    Q("q247_chi_square",
      (s, dir) =>
        graft.ops.Ops.chiSquare(t(s, dir, "orders"),
            col("o_orderpriority"), col("o_orderstatus"))
          .orderBy("a", "b"),
      Some("""WITH base AS (SELECT
             |    coalesce(CAST(o_orderpriority AS VARCHAR), '(null)') AS a,
             |    coalesce(CAST(o_orderstatus AS VARCHAR), '(null)') AS b
             |  FROM orders),
             |cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
             |s AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |    count(DISTINCT a) AS na, count(DISTINCT b) AS nb FROM cells),
             |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
             |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
             |per AS (SELECT c.a, c.b, c.o AS observed,
             |    CAST(CAST(rt.rt AS HUGEINT) * ct.ct * 1000000 // s.n AS BIGINT)
             |      AS expected_micro,
             |    CAST((CAST(s.n AS HUGEINT) * c.o - CAST(rt.rt AS HUGEINT) * ct.ct)
             |         * (CAST(s.n AS HUGEINT) * c.o - CAST(rt.rt AS HUGEINT) * ct.ct)
             |         // (CAST(s.n AS HUGEINT) * rt.rt * ct.ct) AS BIGINT) * 1000000
             |    + CAST(((CAST(s.n AS HUGEINT) * c.o - CAST(rt.rt AS HUGEINT) * ct.ct)
             |            * (CAST(s.n AS HUGEINT) * c.o - CAST(rt.rt AS HUGEINT) * ct.ct)
             |            % (CAST(s.n AS HUGEINT) * rt.rt * ct.ct)) * 1000000
             |           // (CAST(s.n AS HUGEINT) * rt.rt * ct.ct) AS BIGINT)
             |      AS cell_micro
             |  FROM cells c, s, rt, ct WHERE rt.a = c.a AND ct.b = c.b),
             |tot AS (SELECT CAST(sum(cell_micro) AS BIGINT) AS chi2 FROM per)
             |SELECT per.a, per.b, per.observed, per.expected_micro,
             |  per.cell_micro, s.n,
             |  CAST((s.na - 1) * (s.nb - 1) AS BIGINT) AS dof,
             |  tot.chi2 AS chi2_micro
             |FROM per, s, tot ORDER BY a, b""".stripMargin)),

    // ------------------------------------------------------------------
    // q248 — association rules (X97, Associations.pairRules): which part
    // brands are bought together beyond chance — baskets are orders,
    // items the brands of their parts, and every rule above 2% support
    // ships with exact-micro support, direction-specific confidence, and
    // lift. The oracle replays basket dedup, the pair join, the support
    // prune, and all three ratios (lift through the same DECIMAL/HUGEINT
    // product) — every rule row under one hash.
    Q("q248_association_rules",
      (s, dir) => {
        val baskets = t(s, dir, "lineitem")
          .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), "l_partkey")
        Associations.pairRules(baskets, col("l_orderkey"), col("p_brand"),
            minSupportMicro = 20000L)
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH b AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
             |n AS (SELECT count(DISTINCT bk) AS n FROM b),
             |ni AS (SELECT it, count(*) AS ni FROM b GROUP BY it),
             |pr AS (SELECT l.it AS a, r.it AS c, count(*) AS nab
             |  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
             |  GROUP BY 1, 2
             |  HAVING count(*) * 1000000 // (SELECT n FROM n) >= 20000),
             |d AS (SELECT a, c, nab FROM pr
             |      UNION ALL SELECT c, a, nab FROM pr)
             |SELECT d.a AS antecedent, d.c AS consequent, d.nab AS n_both,
             |  CAST(d.nab * 1000000 // (SELECT n FROM n) AS BIGINT)
             |    AS support_micro,
             |  CAST(d.nab * 1000000 // na.ni AS BIGINT) AS confidence_micro,
             |  CAST(CAST(d.nab AS HUGEINT) * (SELECT n FROM n) * 1000000
             |       // (CAST(na.ni AS HUGEINT) * nc.ni) AS BIGINT) AS lift_micro
             |FROM d JOIN ni na ON na.it = d.a JOIN ni nc ON nc.it = d.c
             |ORDER BY antecedent, consequent""".stripMargin)),

    // ------------------------------------------------------------------
    // q249 — STREAMING decontamination lifecycle (X89 ⊗ X59, the
    // benchmark-protection deployment shape): the eval slice's canonical
    // texts build a Bloom filter ONCE; training batches then arrive as a
    // stream, each probes the broadcast filter IN foreachBatch and
    // commits its non-member survivors as an exactly-once ledger delta
    // (replays no-op by name — the q158 contract). Zero false negatives
    // means NO eval document can leak into the kept corpus
    // (structural); the documented cost is the filter's false positives
    // over-dropping a few innocents at the design rate. The oracle
    // rebuilds every set bit from the same md5 canon keys and replays
    // every probe — the final kept corpus, id for id, under one hash.
    Q("q249_streaming_decontamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val canon = TextStats.normalizeForDedup(col("text"))
        val evalSet = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val sk = Sketches.bloomSketch(evalSet, canon,
          bits = 8192, hashes = 5, seed = "s249")
        val skRows = sk.persist()
        val work = workDir("q249")
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select("doc_id", "text")
        val kept = graft.core.Table(s, work.toString, "kept")
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          kept.ledgerAppendIfAbsent(batchId, {
            val keys = batch.select(col("doc_id"),
              TextStats.normalizeForDedup(col("text")).as("__k"))
            val member = Sketches.bloomProbe(skRows,
              keys.select(col("__k")), "__k", bits = 8192, hashes = 5,
              seed = "s249")
            keys.join(member, "__k").filter(!col("member"))
              .select(col("doc_id"))
          })
        }
        try Staging.fileStream(work, train.filter(col("doc_id") < 250),
            train.filter(col("doc_id") >= 250)).drain(onBatch)
        finally skRows.unpersist()
        require(kept.ledgerMax == Some(1L),
          "lifecycle should commit survivor deltas 0 and 1")
        kept.readLedger.select("doc_id").orderBy("doc_id")
      },
      Some(s"""WITH ev AS (SELECT ${dCanonOf("text")} AS k FROM documents
             |            WHERE doc_id % 10 = 0),
             |bits AS (SELECT DISTINCT
             |    ('0x' || substr(md5('s249:' || i.i || ':' || k), 1, 15))::UBIGINT
             |      % 8192 AS pos
             |  FROM ev, (SELECT unnest(range(5)) AS i) i),
             |tr AS (SELECT doc_id, ${dCanonOf("text")} AS k FROM documents
             |       WHERE doc_id % 10 <> 0),
             |probe AS (SELECT doc_id,
             |    ('0x' || substr(md5('s249:' || i.i || ':' || k), 1, 15))::UBIGINT
             |      % 8192 AS pos
             |  FROM tr, (SELECT unnest(range(5)) AS i) i),
             |m AS (SELECT doc_id,
             |    count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
             |      AS member
             |  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
             |  GROUP BY doc_id)
             |SELECT doc_id FROM m WHERE NOT member ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q250 — rolling 7-day active users (X98, TimeSeries.rollingActive):
    // the WAU dashboard series in its exact form — distinct (user, day)
    // once, a constant-7 report-day explode, one per-day distinct count,
    // clipped to observed days. The oracle replays the identity (a day-d
    // active user is window-active for report days d..d+6) relationally.
    Q("q250_rolling_active_users",
      (s, dir) =>
        graft.ops.TimeSeries.rollingActive(Relational.events(s, dir),
            col("user_id"), col("ts"), windowDays = 7)
          .orderBy("day"),
      Some("""WITH kd AS (SELECT DISTINCT user_id AS k,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |obs AS (SELECT DISTINCT d AS day FROM kd),
             |proj AS (SELECT kd.k, kd.d + i.i AS day
             |  FROM kd, (SELECT unnest(range(7)) AS i) i)
             |SELECT p.day, count(DISTINCT p.k) AS n_active
             |FROM proj p JOIN obs ON obs.day = p.day
             |GROUP BY p.day ORDER BY p.day""".stripMargin)),

    // ------------------------------------------------------------------
    // q251 — shapefile → geofence e2e (S3 ⨝ X95 via wkb_rings): the
    // ingest-to-containment chain the reference's shp2pgsql exists to
    // feed, closed end to end — a REAL .shp with holes is minted, parsed
    // by the dependency-free ESRI reader (outer CW + hole CCW rings →
    // WKB MultiPolygon), the WKB decoded back to integer rings by the
    // codegen'd wkb_rings expression, and md5-placed customers tagged by
    // the even-odd multi-ring containment join. The oracle re-derives
    // the rings from the record-number closed form the fixture minting
    // states (an 80×80 outer square with a 40×40 hole at
    // ((i%4)·100, (i%3)·100)) and replays parity via its axis-aligned
    // reduction (the q246 argument): inside ⇔ half-open outer box AND
    // NOT half-open hole box. Any deviation in the shapefile record
    // walk, the ESRI→WKB ring grouping, the WKB decode (endianness,
    // offsets, closing-vertex drop, scaling), or the multi-ring parity
    // breaks the hash — points inside holes are exactly the rows that
    // differ.
    Q("q251_shapefile_geofence",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val tmp = java.nio.file.Files.createTempFile("graft-q251", ".shp")
        tmp.toFile.deleteOnExit()
        graft.ingest.Shapefile.syntheticPolygonShp(tmp, 12)
        val polys = graft.ingest.Shapefile.read(s, tmp.toString)
          .select(col("record_no").as("gid"),
            graft.functions.GraftFunctions.wkbRings(col("geom_wkb"), 1L)
              .as("rings"))
        def coord(axis: String, m: Long) =
          conv(substring(md5(concat(lit(s"geo13:$axis:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % m
        val pts = t(s, dir, "customer")
          .select(col("c_custkey").as("id"),
            coord("x", 400L).as("x"), coord("y", 300L).as("y"))
        graft.ops.Spatial.containsJoinRings(pts, col("id"), col("x"),
            col("y"), polys, col("gid"), col("rings"), cellSize = 100L)
          .orderBy("point_id", "poly_id")
      },
      Some("""WITH pts AS (SELECT c_custkey AS id,
             |    ('0x' || substr(md5('geo13:x:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 400 AS x,
             |    ('0x' || substr(md5('geo13:y:' || CAST(c_custkey AS VARCHAR)),
             |      1, 8))::UBIGINT % 300 AS y
             |  FROM customer),
             |polys AS (SELECT CAST(i AS INTEGER) AS gid,
             |    (i % 4) * 100 AS x0, (i % 3) * 100 AS y0
             |  FROM range(1, 13) t(i))
             |SELECT p.id AS point_id, g.gid AS poly_id
             |FROM pts p JOIN polys g
             |  ON p.x >= g.x0 AND p.x < g.x0 + 80
             | AND p.y >= g.y0 AND p.y < g.y0 + 80
             | AND NOT (p.x >= g.x0 + 20 AND p.x < g.x0 + 60
             |      AND p.y >= g.y0 + 20 AND p.y < g.y0 + 60)
             |ORDER BY point_id, poly_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q252 — rolling actives, sketch face (X98 × X27,
    // TimeSeries.rollingActiveSketch): the WAU series a 100 TB dashboard
    // actually runs — per-day HLL sketches projected onto their trailing
    // report days and unioned, so the second shuffle carries days × W
    // sketch ROWS (few KB each), never keys. The exact face is ground
    // truth in the same output (oracle-replayable); the sketch rides as
    // a bound flag at 4σ of HLL's rsd (1.04/√2^12 ≈ 1.6%) — the q109
    // sketch-family contract, since DataSketches binaries don't replay
    // outside the JVM. Plan-pinned: the explode feeds on the day-keyed
    // AGGREGATE, not the raw scan (PlanAuditSpec).
    Q("q252_rolling_active_sketch",
      (s, dir) => {
        val ev = Relational.events(s, dir)
        val exact = graft.ops.TimeSeries.rollingActive(
          ev, col("user_id"), col("ts"), windowDays = 7)
        val sk = graft.ops.TimeSeries.rollingActiveSketch(
          ev, col("user_id"), col("ts"), windowDays = 7)
        exact.join(sk, "day")
          .select(col("day"), col("n_active"),
            (abs(col("n_active_est") - col("n_active")).cast("double")
              <= col("n_active") * 0.065).as("within_bound"))
          .orderBy("day")
      },
      Some("""WITH kd AS (SELECT DISTINCT user_id AS k,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |obs AS (SELECT DISTINCT d AS day FROM kd),
             |proj AS (SELECT kd.k, kd.d + i.i AS day
             |  FROM kd, (SELECT unnest(range(7)) AS i) i)
             |SELECT p.day, count(DISTINCT p.k) AS n_active,
             |  TRUE AS within_bound
             |FROM proj p JOIN obs ON obs.day = p.day
             |GROUP BY p.day ORDER BY p.day""".stripMargin)),

    // ------------------------------------------------------------------
    // q253 — inverted-index TOMBSTONES (X72's delete lifecycle, the
    // Lucene .del story on the ledger): two segments index the corpus,
    // the pre-delete top-3 docs are tombstoned as an exactly-once delete
    // batch (replay no-ops without building the frame), the masked query
    // drops them immediately (merge-on-read), compaction applies the
    // mask physically to the folded postings base and clears the
    // tombstone ledger, and the post-compaction answer is byte-identical
    // to the masked one (asserted in-query). Corpus scalars (n, sumdl)
    // are index-LIFETIME constants — a delete masks documents, it never
    // re-normalizes history (the X50 delete-over-update discipline) —
    // and the oracle pins exactly that: it re-derives the victims from
    // the full-corpus ranking, rescores the survivors with per-term df
    // over survivors but n/avgdl over the FULL corpus, and replays the
    // whole construction relationally.
    Q("q253_index_tombstones",
      (s, dir) => {
        val tmp = workDir("q253").toString
        val docs = t(s, dir, "documents")
        val terms = Seq("spark", "hash", "join")
        def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === i)
        require(InvertedIndex.indexSegment(s, tmp, 0L, batch(0), "doc_id", "text"),
          "segment 0 did not commit")
        require(InvertedIndex.indexSegment(s, tmp, 1L, batch(1), "doc_id", "text"),
          "segment 1 did not commit")
        val vIds = InvertedIndex.bm25TopKSegmented(s, tmp, terms, k = 3)
          .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
        require(vIds.size == 3, s"expected 3 victims, got $vIds")
        import s.implicits._
        require(InvertedIndex.deleteDocs(s, tmp, 0L,
          vIds.toDF("doc_id")), "delete batch did not commit")
        // exactly-once: a replayed delete id no-ops without its frame
        require(!InvertedIndex.deleteDocs(s, tmp, 0L,
          sys.error("replayed delete batch rebuilt its frame")),
          "delete replay wrote")
        val after = InvertedIndex.bm25TopKSegmented(s, tmp, terms, k = 15)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        require(after.size == 15 && !after.exists(r => vIds.contains(r._1)),
          s"a tombstoned doc survived the masked query: $after")
        // merge: the mask becomes physical, the tombstones clear — both
        // read-back verification probes ride ONE job (a cross of two
        // single-row aggregates over tiny ledgers; same two predicates
        // asserted, formerly two full driver actions)
        require(InvertedIndex.compactSegments(s, tmp, maxDeltas = 0),
          "compaction did not fold")
        val probe = graft.core.Table(s, tmp, "ii_deletes").readLedger
          .agg(count(lit(1)).as("__nd"))
          .crossJoin(graft.core.Table(s, tmp, "ii_postings").readLedger
            .filter(col("doc_id").isin(vIds: _*))
            .agg(count(lit(1)).as("__np")))
          .collect()(0)
        require(probe.getLong(0) == 0,
          "tombstones survived the compaction that applied them")
        require(probe.getLong(1) == 0,
          "a tombstoned doc's postings survived the physical merge")
        val post = InvertedIndex.bm25TopKSegmented(s, tmp, terms, k = 15)
        val postRows = post.collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        require(postRows == after,
          s"compaction changed the answer:\n  masked $after\n  merged $postRows")
        post.orderBy("rank")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
             |dl AS (SELECT doc_id, len(tk) AS dl, tk FROM tk),
             |st AS (SELECT count(*) AS n, sum(len(tk)) AS sumdl FROM tk),
             |tf0 AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
             |         SELECT doc_id, dl, unnest(tk) AS tok FROM dl)
             |       WHERE tok IN ('spark', 'hash', 'join')
             |       GROUP BY doc_id, dl, tok),
             |df0 AS (SELECT tok, count(*) AS df FROM tf0 GROUP BY tok),
             |c0 AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf0 JOIN df0 USING (tok) CROSS JOIN st),
             |victims AS (SELECT doc_id FROM (
             |  SELECT doc_id, row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c0 GROUP BY doc_id) WHERE rn <= 3),
             |tf AS (SELECT * FROM tf0
             |       WHERE doc_id NOT IN (SELECT doc_id FROM victims)),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT doc_id, round(
             |        ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))),
             |        6) AS contrib
             |      FROM tf JOIN df USING (tok) CROSS JOIN st)
             |SELECT doc_id, score, CAST(rn AS INTEGER) AS rank FROM (
             |  SELECT doc_id,
             |    round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
             |    row_number() OVER (
             |      ORDER BY round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) DESC,
             |        doc_id) AS rn
             |  FROM c GROUP BY doc_id)
             |WHERE rn <= 15 ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q254 — CALENDAR-month cohort retention (X76's calendar face,
    // TimeSeries.cohortRetentionCalendar): the same retention triangle
    // as q222, but cohorts and offsets in calendar months — the form
    // every real dashboard asks for — via the engine-shared integer
    // period (year−1970)·12 + month−1, which Spark and DuckDB state
    // identically under the pinned UTC session (no date_trunc week-start
    // /locale ambiguity anywhere). The oracle replays the period
    // arithmetic, the min-cohort assignment, the distinct activity, and
    // the floor-micro rate.
    Q("q254_calendar_cohorts",
      (s, dir) =>
        graft.ops.TimeSeries.cohortRetentionCalendar(
            Relational.events(s, dir), col("user_id"), col("ts"), "month")
          .orderBy("cohort", "offset"),
      Some("""WITH ev AS (SELECT user_id AS u,
             |    (year(CAST(ts AS TIMESTAMP)) - 1970) * 12
             |      + month(CAST(ts AS TIMESTAMP)) - 1 AS p
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |fc AS (SELECT u, min(p) AS cohort FROM ev GROUP BY u),
             |act AS (SELECT DISTINCT u, p FROM ev),
             |tri AS (SELECT fc.cohort, act.p - fc.cohort AS "offset",
             |          count(*) AS active
             |        FROM act JOIN fc USING (u) GROUP BY 1, 2),
             |sz AS (SELECT cohort, active AS cohort_size FROM tri
             |       WHERE "offset" = 0)
             |SELECT tri.cohort, tri."offset", tri.active, sz.cohort_size,
             |  tri.active * 1000000 // sz.cohort_size AS ret_micro
             |FROM tri JOIN sz USING (cohort)
             |ORDER BY tri.cohort, tri."offset"""".stripMargin)),

    // ------------------------------------------------------------------
    // q255 — triple association rules (X97's documented higher-order
    // extension, Associations.tripleRules): 1995's brand baskets one
    // Apriori level up — supported pairs become merged pseudo-items,
    // pairRules re-runs UNCHANGED over the augmented baskets, and
    // ({a,b} -> c) reads off with support = n_abc DIV N, confidence
    // against the pair margin, lift against the consequent margin, all
    // exact integers. The oracle replays BOTH stages relationally: the
    // L2 support cut, the pseudo-item construction, the augmented
    // self-join, margins over the augmented frame, and the
    // triple-rule filter.
    Q("q255_triple_rules",
      (s, dir) => {
        val baskets = t(s, dir, "lineitem")
          .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), "l_partkey")
          .join(t(s, dir, "orders")
            .filter(year(col("o_orderdate").cast("date")) === 1995)
            .select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
        Associations.tripleRules(baskets, col("l_orderkey"), col("p_brand"),
            minSupportMicro = 2500L)
          .orderBy("antecedent_a", "antecedent_b", "consequent")
      },
      Some("""WITH b AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey
             |  WHERE year(CAST(o.o_orderdate AS DATE)) = 1995),
             |n AS (SELECT count(DISTINCT bk) AS n FROM b),
             |p2 AS (SELECT l.it AS a, r.it AS c, count(*) AS nab
             |  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
             |  GROUP BY 1, 2
             |  HAVING count(*) * 1000000 // (SELECT n FROM n) >= 2500),
             |aug AS (SELECT bk, it FROM b
             |  UNION ALL
             |  SELECT l.bk, l.it || '+' || r.it AS it
             |  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
             |  JOIN p2 ON p2.a = l.it AND p2.c = r.it),
             |m AS (SELECT it, count(*) AS ni FROM aug GROUP BY it),
             |p3 AS (SELECT l.it AS a, r.it AS c, count(*) AS nab
             |  FROM aug l JOIN aug r ON l.bk = r.bk AND l.it < r.it
             |  GROUP BY 1, 2
             |  HAVING count(*) * 1000000 // (SELECT n FROM n) >= 2500),
             |d AS (SELECT a, c, nab FROM p3 UNION ALL SELECT c, a, nab FROM p3),
             |r AS (SELECT d.a, d.c, d.nab,
             |    CAST(d.nab * 1000000 // (SELECT n FROM n) AS BIGINT)
             |      AS support_micro,
             |    CAST(d.nab * 1000000 // ma.ni AS BIGINT) AS confidence_micro,
             |    CAST(CAST(d.nab AS HUGEINT) * (SELECT n FROM n) * 1000000
             |         // (CAST(ma.ni AS HUGEINT) * mc.ni) AS BIGINT)
             |      AS lift_micro
             |  FROM d JOIN m ma ON ma.it = d.a JOIN m mc ON mc.it = d.c)
             |SELECT split_part(a, '+', 1) AS antecedent_a,
             |  split_part(a, '+', 2) AS antecedent_b,
             |  c AS consequent, nab AS n_both, support_micro,
             |  confidence_micro, lift_micro
             |FROM r
             |WHERE a LIKE '%+%' AND c NOT LIKE '%+%'
             |  AND c != split_part(a, '+', 1) AND c != split_part(a, '+', 2)
             |ORDER BY antecedent_a, antecedent_b, consequent""".stripMargin)),

    // ------------------------------------------------------------------
    // q256 — STREAMING event-time agg view (X75 ⊗ §2.7,
    // Streams.windowedAggPartials + AggView.commitPartials): hourly
    // (window, event_type) rollups maintained by a WATERMARKED streaming
    // aggregation whose finalized windows commit exactly once to the
    // ledger — and the fixture forces the point: one whole hour bucket
    // arrives LATE (staged after chronologically later rows) yet lands
    // in the RIGHT event-time bucket, because the engine holds its
    // window open until the 2 h watermark passes. Append mode emits each
    // window once; the no-data flush batches commit as (possibly empty)
    // contiguous ledger deltas. The in-query require pins the late
    // bucket's counts whole; the oracle replays the batch windows PLUS
    // the eviction predicate (window_end ≤ max ts − lateness — the q184
    // pattern), so the emission semantics sit under the hash with the
    // late rows included.
    Q("q256_streaming_event_time_agg_view",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .select(col("ts"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
        val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
        val hb = maxUs / 3600000000L
        val hcol = expr("unix_micros(ts) DIV 3600000000")
        val work = workDir("q256")
        val meas = Seq(graft.ops.AggView.Measure("cents", 0))
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          graft.ops.AggView.commitPartials(s, work.toString, "wview",
            batchId, batch)
          ()
        }
        // arrival order: everything before the late hour, one more hour
        // (advances the watermark to just under the late window), THEN
        // the late hour, then the tail that flushes it past the watermark
        Staging.fileStream(work, ev.filter(hcol < hb - 4 && hcol =!= (hb - 5)),
            ev.filter(hcol === hb - 4), ev.filter(hcol === hb - 5),
            ev.filter(hcol > hb - 4))
          .drain(onBatch, shape = graft.streaming.Streams.windowedAggPartials(
            _, "ts", lateness = "2 hours", window_ = "1 hour",
            Seq("event_type"), meas))
        val view = graft.ops.AggView.read(s, work.toString, "wview",
          Seq("window_start", "event_type"), meas)
        // the Done pin: the LATE hour landed whole in its own bucket
        val lateGot = view
          .filter(unix_micros(col("window_start")) === (hb - 5) * 3600000000L)
          .agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0).getLong(0)
        val lateWant = ev.filter(hcol === hb - 5).count()
        require(lateWant > 0, "fixture's late hour is empty — retune")
        require(lateGot == lateWant,
          s"late-arriving hour did not land whole: view=$lateGot " +
            s"events=$lateWant")
        view.select(unix_micros(col("window_start")).as("window_us"),
            col("event_type"), col("cnt"), col("cnt_cents"),
            col("sum_cents"), col("avg_cents"), col("min_cents"),
            col("max_cents"))
          .orderBy("window_us", "event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |wm AS (SELECT max(us) - 7200000000 AS wm FROM e)
             |SELECT (us // 3600000000) * 3600000000 AS window_us,
             |  event_type, count(*) AS cnt, count(cents) AS cnt_cents,
             |  CAST(sum(CAST(cents AS DECIMAL(28,0))) AS DOUBLE) AS sum_cents,
             |  CAST(sum(CAST(cents AS DECIMAL(28,0))) AS DOUBLE) / count(cents)
             |    AS avg_cents,
             |  min(cents) AS min_cents, max(cents) AS max_cents
             |FROM e GROUP BY 1, 2
             |HAVING (us // 3600000000) * 3600000000 + 3600000000
             |       <= (SELECT wm FROM wm)
             |ORDER BY window_us, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q257 — exact per-group OLS trend slopes (X100, Ops.trendSlopes):
    // is each event type's daily volume drifting, and how fast — the
    // least-squares slope over (day, count) per type, every sum exact
    // DECIMAL(38,0), slope/means as truncating micro divisions (the X86
    // shared-truncation stance, so negative slopes replay identically).
    // The oracle replays the four sums and the closed form in HUGEINT.
    Q("q257_trend_slopes",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("cnt"))
        graft.ops.Ops.trendSlopes(daily, Seq("event_type"), col("day"),
            col("cnt"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
             |    count(*) AS y
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |a AS (SELECT event_type, count(*) AS n,
             |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(x AS HUGEINT) * y) AS sxy,
             |    sum(CAST(x AS HUGEINT) * x) AS sxx
             |  FROM d GROUP BY 1)
             |SELECT event_type, n,
             |  CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
             |    CAST((n * sxy - sx * sy) * 1000000
             |         // (n * sxx - sx * sx) AS BIGINT) END AS slope_micro,
             |  CAST(sx * 1000000 // n AS BIGINT) AS mean_x_micro,
             |  CAST(sy * 1000000 // n AS BIGINT) AS mean_y_micro
             |FROM a ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q258 — MAD robust outliers (X101, Ops.madOutliers): each event's
    // cents judged against its type's median ± 3.5 MAD (Hampel's rule) —
    // the robust sibling of q85's z-score and q182's rolling sigma,
    // immune to the outliers it hunts. Medians are nearest-rank order
    // statistics (the q243 construction); the oracle replays both
    // percentile passes, the deviation join, and the HUGEINT comparison.
    Q("q258_mad_outliers",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .select("event_id", "event_type", "cents")
        graft.ops.Ops.madOutliers(ev, Seq("event_type"), col("cents"),
            kMicro = 3500000L)
          .select("event_id", "event_type", "cents", "med", "mad",
            "is_outlier")
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT event_id, event_type AS g,
             |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |m1 AS (SELECT g, max(CASE WHEN rn =
             |      greatest(1, (500000 * n + 999999) // 1000000)
             |      THEN v END) AS med
             |  FROM (SELECT g, v,
             |      row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |      count(*) OVER (PARTITION BY g) AS n
             |    FROM c WHERE v IS NOT NULL) GROUP BY g),
             |d AS (SELECT c.event_id, c.g, c.v, m1.med,
             |    abs(c.v - m1.med) AS dev
             |  FROM c LEFT JOIN m1 ON c.g = m1.g),
             |m2 AS (SELECT g, max(CASE WHEN rn =
             |      greatest(1, (500000 * n + 999999) // 1000000)
             |      THEN dev END) AS mad
             |  FROM (SELECT g, dev,
             |      row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
             |      count(*) OVER (PARTITION BY g) AS n
             |    FROM d WHERE dev IS NOT NULL) GROUP BY g)
             |SELECT d.event_id, d.g AS event_type, d.v AS cents, d.med,
             |  m2.mad,
             |  CASE WHEN d.v IS NULL OR m2.mad IS NULL OR m2.mad = 0
             |       THEN NULL
             |       ELSE CAST(d.dev AS HUGEINT) * 1000000
             |            > CAST(m2.mad AS HUGEINT) * 3500000 END
             |    AS is_outlier
             |FROM d LEFT JOIN m2 ON d.g = m2.g
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q259 — sequential path mining (X102, TimeSeries.pathNgrams): the
    // top 50 three-step user paths — the discovered-funnel report
    // between q219's hypothesized funnel and q236's one-step Markov
    // matrix. One user-keyed window (both leads share the sort), gram
    // counts with distinct walkers, bounded top-k under a total order.
    // The oracle replays the lead chain, the null-complete filter, and
    // the (occurrences desc, gram) cut.
    Q("q259_path_ngrams",
      (s, dir) =>
        graft.ops.TimeSeries.pathNgrams(Relational.events(s, dir),
            col("user_id"), col("ts"), col("event_type"), n = 3,
            tieBreak = Seq("event_id"), topK = 50)
          .orderBy(desc("n_occurrences"), col("gram")),
      Some("""WITH e AS (SELECT user_id AS u, ts, event_id,
             |    event_type AS s FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |g AS (SELECT u, s AS g0,
             |    lead(s, 1) OVER (PARTITION BY u ORDER BY ts, event_id) AS g1,
             |    lead(s, 2) OVER (PARTITION BY u ORDER BY ts, event_id) AS g2
             |  FROM e)
             |SELECT g0 || ' > ' || g1 || ' > ' || g2 AS gram,
             |  count(*) AS n_occurrences, count(DISTINCT u) AS n_users
             |FROM g WHERE g1 IS NOT NULL AND g2 IS NOT NULL
             |GROUP BY 1 ORDER BY n_occurrences DESC, gram
             |LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // q260 — golden-record survivorship (X103, Survivorship): customers
    // synthetically clustered (custkey mod 500 = one "entity" of ~3
    // records) with deterministically-minted NULL gaps in name/segment;
    // the canonical row is elected by (acctbal desc nulls last, custkey)
    // and the merged record takes each field's LAST non-NULL by the
    // custkey version stamp — "latest wins, never un-fills". The oracle
    // replays the election window and the IGNORE NULLS merge.
    Q("q260_golden_records",
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          (col("c_custkey") % 500).as("cl"), col("c_custkey"),
          when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
            .otherwise(col("c_name")).as("name"),
          when(col("c_custkey") % 4 === 1, lit(null).cast("string"))
            .otherwise(col("c_mktsegment")).as("segment"),
          col("c_acctbal"))
        val canon = graft.ops.Survivorship.electCanonical(c, col("cl"),
            Seq(col("c_acctbal")), col("c_custkey"))
          .select(col("cl"), col("c_custkey").as("canon_id"))
        val merged = graft.ops.Survivorship.surviveFields(c, col("cl"),
          col("c_custkey"), col("c_custkey"), Seq("name", "segment"))
        merged.join(canon, merged("cluster_id") === canon("cl"))
          .drop("cl")
          .orderBy("cluster_id")
      },
      Some("""WITH c AS (SELECT c_custkey % 500 AS cl, c_custkey,
             |    CASE WHEN c_custkey % 3 = 0 THEN NULL
             |         ELSE c_name END AS name,
             |    CASE WHEN c_custkey % 4 = 1 THEN NULL
             |         ELSE c_mktsegment END AS segment,
             |    c_acctbal
             |  FROM customer),
             |canon AS (SELECT cl, c_custkey AS canon_id FROM (
             |    SELECT cl, c_custkey, row_number() OVER (PARTITION BY cl
             |        ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS rn
             |    FROM c) WHERE rn = 1),
             |mw AS (SELECT cl, c_custkey,
             |    count(*) OVER w AS n_members,
             |    last_value(name IGNORE NULLS) OVER w AS name,
             |    last_value(segment IGNORE NULLS) OVER w AS segment,
             |    row_number() OVER (PARTITION BY cl ORDER BY c_custkey)
             |      AS rn
             |  FROM c WINDOW w AS (PARTITION BY cl ORDER BY c_custkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND UNBOUNDED FOLLOWING))
             |SELECT mw.cl AS cluster_id, mw.n_members, mw.name,
             |  mw.segment, canon.canon_id
             |FROM mw JOIN canon ON canon.cl = mw.cl WHERE mw.rn = 1
             |ORDER BY cluster_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q261 — Kaplan-Meier churn curves (X104, Survival.kaplanMeier):
    // users become subjects — duration = days between first and last
    // event, churned iff silent for the final 12 hours (others right-
    // censored), cohorted by FIRST event type — and each cohort's
    // survival runs the exact floor-product trajectory S·(n−d) DIV n.
    // The oracle replays the subject construction, the risk-set window,
    // and the WHOLE trajectory with a recursive CTE — every step's
    // floor sits under the hash.
    Q("q261_kaplan_meier",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"),
            min(struct(col("us"), col("event_id"), col("event_type")))
              .as("__f"))
          .select(col("__f").getField("event_type").as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.kaplanMeier(subjects, col("grp0"), col("dur"),
            col("churned"))
          .orderBy("grp", "t")
      },
      Some("""WITH RECURSIVE e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             |    event_type
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per0 AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS rn,
             |    min(us) OVER (PARTITION BY user_id) AS fus,
             |    max(us) OVER (PARTITION BY user_id) AS lus
             |  FROM e),
             |per AS (SELECT event_type AS grp,
             |    (lus - fus) // 86400000000 AS t,
             |    lus < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM per0 WHERE rn = 1),
             |st AS (SELECT grp, t,
             |    sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS al
             |  FROM per GROUP BY 1, 2),
             |wk AS (SELECT grp, t, d,
             |    sum(al) OVER (PARTITION BY grp)
             |      - coalesce(sum(al) OVER (PARTITION BY grp ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND 1 PRECEDING), 0) AS n
             |  FROM st),
             |sp AS (SELECT grp, t, n, d,
             |    row_number() OVER (PARTITION BY grp ORDER BY t) AS rn
             |  FROM wk WHERE d > 0),
             |km AS (SELECT grp, t, n, d, rn,
             |    1000000 * (n - d) // n AS s FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.grp, sp.t, sp.n, sp.d, sp.rn,
             |    km.s * (sp.n - sp.d) // sp.n
             |  FROM km JOIN sp ON sp.grp = km.grp AND sp.rn = km.rn + 1)
             |SELECT grp, t, CAST(n AS BIGINT) AS n_risk,
             |  CAST(d AS BIGINT) AS d_events, CAST(s AS BIGINT) AS s_micro
             |FROM km ORDER BY grp, t""".stripMargin)),

    // ------------------------------------------------------------------
    // q262 — multi-source BFS levels (X105, Graph.bfsLevels): hop
    // distance from the five seed parts over q132's part↔supplier
    // bipartite graph — level-synchronous frontier expansion, each
    // node settling at first discovery (provably the minimum hop count
    // on unit edges). The oracle replays the whole search with a
    // recursive CTE and takes min(dist) per node — any frontier,
    // anti-join, or termination slip breaks the hash.
    Q("q262_bfs_levels",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
            (col("l_suppkey") * 10 + 1).as("dst"))
          .unionAll(li.select((col("l_suppkey") * 10 + 1).as("src"),
            (col("l_partkey") * 10).as("dst")))
        val sources = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.bfsLevels(edges, sources, maxDepth = 4)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst
             |  FROM lineitem
             |  UNION SELECT l_suppkey * 10 + 1, l_partkey * 10
             |  FROM lineitem),
             |s AS (SELECT p_partkey * 10 AS id FROM part
             |      WHERE p_partkey <= 5),
             |r AS (SELECT id, 0 AS dist FROM s
             |  UNION
             |  SELECT e.dst AS id, r.dist + 1 AS dist
             |  FROM r JOIN e ON e.src = r.id WHERE r.dist < 4)
             |SELECT id, CAST(min(dist) AS INTEGER) AS dist
             |FROM r GROUP BY id ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q263 — mutual information / PMI (X106, Ops.miAssociation): q247's
    // priority × status contingency table scored information-
    // theoretically — per-cell PMI from exact Long ratio products with
    // one correctly-rounded double division and the documented round-6
    // ln grain (the q217 precedent), total MI as exact integer
    // arithmetic over the rounded cells. The oracle replays margins,
    // the ratio, ln, and the HUGEINT total.
    Q("q263_mi_association",
      (s, dir) =>
        graft.ops.Ops.miAssociation(t(s, dir, "orders"),
            col("o_orderpriority"), col("o_orderstatus"))
          .orderBy("a", "b"),
      Some("""WITH base AS (SELECT
             |    coalesce(CAST(o_orderpriority AS VARCHAR), '(null)') AS a,
             |    coalesce(CAST(o_orderstatus AS VARCHAR), '(null)') AS b
             |  FROM orders),
             |cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
             |s AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS na FROM cells
             |       GROUP BY 1),
             |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS nb FROM cells
             |       GROUP BY 1),
             |per AS (SELECT c.a, c.b, c.o AS observed,
             |    CAST(round(ln(CAST(c.o * s.n AS DOUBLE)
             |      / CAST(rt.na * ct.nb AS DOUBLE)) * 1000000) AS BIGINT)
             |      AS pmi_micro
             |  FROM cells c, s, rt, ct WHERE rt.a = c.a AND ct.b = c.b),
             |tot AS (SELECT CAST(sum(CAST(observed AS HUGEINT) * pmi_micro)
             |    // (SELECT n FROM s) AS BIGINT) AS mi_micro FROM per)
             |SELECT per.a, per.b, per.observed, per.pmi_micro,
             |  s.n, tot.mi_micro
             |FROM per, s, tot ORDER BY a, b""".stripMargin)),

    // ------------------------------------------------------------------
    // q264 — segment-overlap matrix (X107, Associations.segmentOverlap):
    // customers tagged by the order priorities they ever used become
    // audience segments; every unordered segment pair reports exact
    // n/both/jaccard/containment-both-ways/lift — the audience-planning
    // readout (X39's KMV is the sketch face of the same question). One
    // member-keyed self-join, margins joined onto the pair-sized frame;
    // the oracle replays the distinct pass, the pair join, and every
    // coefficient incl. the HUGEINT lift.
    Q("q264_segment_overlap",
      (s, dir) =>
        Associations.segmentOverlap(
            t(s, dir, "orders").select(col("o_custkey").as("m"),
              col("o_orderpriority").as("seg")),
            col("seg"), col("m"))
          .orderBy("seg_a", "seg_b"),
      Some("""WITH b AS (SELECT DISTINCT o_orderpriority AS s,
             |    o_custkey AS m FROM orders),
             |u AS (SELECT count(DISTINCT m) AS u FROM b),
             |mg AS (SELECT s, count(*) AS n FROM b GROUP BY 1),
             |p AS (SELECT l.s AS seg_a, r.s AS seg_b, count(*) AS n_both
             |      FROM b l JOIN b r ON l.m = r.m AND l.s < r.s
             |      GROUP BY 1, 2)
             |SELECT p.seg_a, p.seg_b, a.n AS n_a, c.n AS n_b, p.n_both,
             |  p.n_both * 1000000 // (a.n + c.n - p.n_both)
             |    AS jaccard_micro,
             |  p.n_both * 1000000 // a.n AS containment_a_micro,
             |  p.n_both * 1000000 // c.n AS containment_b_micro,
             |  CAST(CAST(p.n_both AS HUGEINT) * (SELECT u FROM u) * 1000000
             |       // (CAST(a.n AS HUGEINT) * c.n) AS BIGINT)
             |    AS lift_micro
             |FROM p JOIN mg a ON a.s = p.seg_a JOIN mg c ON c.s = p.seg_b
             |ORDER BY seg_a, seg_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q265 — Benford first-digit audit (X108, Validate.benfordAudit):
    // order totals in cents per priority — leading digits from pure
    // string arithmetic (no log10 boundary risk), expected shares as the
    // hardcoded Benford micro LITERALS (the one place float risk is
    // removed rather than bounded), deviations and the per-group max all
    // exact integers. Every digit 1–9 emits even at zero observations.
    // The oracle replays the digit extraction, the literal table, and
    // the deviation arithmetic.
    Q("q265_benford_audit",
      (s, dir) =>
        graft.ops.Validate.benfordAudit(
            t(s, dir, "orders").withColumn("cents",
              round(col("o_totalprice") * 100).cast("long")),
            Seq("o_orderpriority"), col("cents"))
          .orderBy("o_orderpriority", "digit"),
      Some("""WITH v AS (SELECT o_orderpriority AS g,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
             |  FROM orders),
             |d AS (SELECT g, CAST(substr(CAST(c AS VARCHAR), 1, 1)
             |    AS INTEGER) AS digit FROM v),
             |cnt AS (SELECT g, digit, count(*) AS n_obs FROM d
             |        GROUP BY 1, 2),
             |ben AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
             |  unnest([301030,176091,124939,96910,79181,66947,57992,
             |          51153,45757]::BIGINT[]) AS benford_micro),
             |scaf AS (SELECT g, digit, benford_micro
             |  FROM (SELECT DISTINCT g FROM cnt), ben),
             |f AS (SELECT s.g, s.digit, coalesce(cnt.n_obs, 0) AS n_obs,
             |    s.benford_micro
             |  FROM scaf s LEFT JOIN cnt
             |    ON cnt.g = s.g AND cnt.digit = s.digit),
             |t AS (SELECT g, sum(n_obs) AS n FROM f GROUP BY 1)
             |SELECT f.g AS o_orderpriority, f.digit, f.n_obs,
             |  CAST(t.n AS BIGINT) AS n,
             |  CAST(f.n_obs * 1000000 // t.n AS BIGINT) AS share_micro,
             |  f.benford_micro,
             |  CAST(abs(f.n_obs * 1000000 // t.n - f.benford_micro)
             |    AS BIGINT) AS dev_micro,
             |  CAST(max(abs(f.n_obs * 1000000 // t.n - f.benford_micro))
             |    OVER (PARTITION BY f.g) AS BIGINT) AS max_dev_micro
             |FROM f JOIN t ON t.g = f.g
             |ORDER BY o_orderpriority, digit""".stripMargin)),

    // ------------------------------------------------------------------
    // q266 — seasonal-naive backtest (X109,
    // TimeSeries.seasonalNaiveBacktest): per event type, "next day looks
    // like the same day last week" scored over the daily series — the
    // baseline every forecasting model must beat, with the forecast from
    // a (group, period−7) EQUI-join so gaps leave periods unevaluated
    // instead of mis-aligning the season. MAE/bias as exact truncating
    // divisions, MAPE over per-row floors. The oracle replays the
    // join-shift and every aggregate.
    Q("q266_seasonal_backtest",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.seasonalNaiveBacktest(daily, Seq("event_type"),
            col("day"), col("y"), season = 7)
          .orderBy("event_type")
      },
      Some("""WITH dly AS (SELECT event_type AS g,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS p,
             |    count(*) * 1000000 AS y
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |j AS (SELECT a.g, a.y, a.y - b.y AS e
             |      FROM dly a JOIN dly b ON a.g = b.g AND b.p = a.p - 7)
             |SELECT g AS event_type, count(*) AS n_eval,
             |  CAST(sum(abs(e)) // count(*) AS BIGINT) AS mae_micro,
             |  CAST(sum(e) // count(*) AS BIGINT) AS bias_micro,
             |  CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_mape,
             |  CAST(CASE WHEN sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) > 0
             |    THEN sum(CASE WHEN y <> 0 THEN abs(e) * 1000000 // abs(y)
             |        ELSE 0 END)
             |      // sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) END
             |    AS BIGINT) AS mape_micro
             |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q267 — CUPED variance reduction (X110, Experiment.cupedAdjust):
    // each user's second-half spend adjusted by the pooled regression on
    // their FIRST-half spend (the pre-period covariate — treatment-
    // independent by construction), arms from the house md5 split. The
    // readout: per-arm n, raw and adjusted means (exact truncating
    // micro divisions of DECIMAL sums) plus the pooled θ. The oracle
    // replays the per-user halves, the four θ sums single-stage in
    // HUGEINT, the per-row truncating adjustment, and the arm means.
    Q("q267_cuped",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val per = ev.groupBy("user_id").agg(
          sum(when(col("day") < 19738, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("day") >= 19738, col("cents")).otherwise(0L)).as("y"))
        val armed = per.withColumn("arm",
          when(conv(substring(md5(concat(lit("cuped:"),
            col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0, lit("control")).otherwise(lit("treat")))
        val theta = graft.ops.Experiment.cupedTheta(armed, col("y"), col("x"))
        graft.ops.Experiment.cupedAdjust(armed, col("y"), col("x"))
          .groupBy("arm")
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(CAST(y AS DECIMAL(38,0))) DIV count(1) " +
              "AS BIGINT)").as("mean_raw_micro"),
            expr("CAST(sum(CAST(adj_micro AS DECIMAL(38,0))) DIV count(1) " +
              "AS BIGINT)").as("mean_adj_micro"))
          .withColumn("theta_micro", lit(theta))
          .orderBy("arm")
      },
      Some("""WITH ev AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |per AS (SELECT user_id,
             |    sum(CASE WHEN day < 19738 THEN cents ELSE 0 END) AS x,
             |    sum(CASE WHEN day >= 19738 THEN cents ELSE 0 END) AS y
             |  FROM ev GROUP BY 1),
             |armed AS (SELECT *,
             |    CASE WHEN ('0x' || substr(md5('cuped:' ||
             |        CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2 = 0
             |      THEN 'control' ELSE 'treat' END AS arm
             |  FROM per),
             |th AS (SELECT CAST((count(*) * sum(CAST(x AS HUGEINT) * y)
             |      - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)))
             |      * 1000000
             |      // (count(*) * sum(CAST(x AS HUGEINT) * x)
             |         - sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT)))
             |      AS BIGINT) AS theta FROM armed),
             |adj AS (SELECT arm, y,
             |    y - (CAST((SELECT theta FROM th) AS HUGEINT) * x)
             |        // 1000000 AS a
             |  FROM armed)
             |SELECT arm, count(*) AS n,
             |  CAST(sum(CAST(y AS HUGEINT)) // count(*) AS BIGINT)
             |    AS mean_raw_micro,
             |  CAST(sum(CAST(a AS HUGEINT)) // count(*) AS BIGINT)
             |    AS mean_adj_micro,
             |  (SELECT theta FROM th) AS theta_micro
             |FROM adj GROUP BY arm ORDER BY arm""".stripMargin)),

    // ------------------------------------------------------------------
    // q268 — WOE/IV feature screen (X111, Ops.woeIv): document length
    // buckets screened against the content label q223 calibrates on —
    // per-bin weight of evidence from exact Long ratios at the round-6
    // ln grain, shares as floor micros, IV as exact truncating integer
    // arithmetic over the rounded cells. The oracle replays the binning,
    // the class margins, ln, and the IV fold.
    Q("q268_woe_iv",
      (s, dir) => {
        val toks = graft.text.TextStats.tokens(col("text"))
        graft.ops.Ops.woeIv(
            t(s, dir, "documents").select(
              least(floor(size(toks) / 32), lit(2)).cast("long").as("lb"),
              array_contains(toks, "data").as("l")),
            col("lb"), col("l"))
          .orderBy("bin")
      },
      Some(s"""WITH d AS (SELECT
             |    CAST(least(len($dTok) // 32, 2) AS VARCHAR) AS bin,
             |    list_contains($dTok, 'data') AS l
             |  FROM documents),
             |c AS (SELECT bin, count(*) FILTER (l) AS n_pos,
             |    count(*) FILTER (NOT l) AS n_neg FROM d GROUP BY 1),
             |t AS (SELECT sum(n_pos) AS pt, sum(n_neg) AS nt FROM c),
             |per AS (SELECT c.bin, c.n_pos, c.n_neg,
             |    CAST(round(ln(CAST(c.n_pos * t.nt AS DOUBLE)
             |      / CAST(c.n_neg * t.pt AS DOUBLE)) * 1000000) AS BIGINT)
             |      AS woe_micro,
             |    c.n_pos * 1000000 // t.pt AS pos_share_micro,
             |    c.n_neg * 1000000 // t.nt AS neg_share_micro
             |  FROM c, t),
             |cell AS (SELECT *,
             |    CAST(CAST(pos_share_micro - neg_share_micro AS HUGEINT)
             |      * woe_micro // 1000000 AS BIGINT) AS iv_cell_micro
             |  FROM per),
             |tot AS (SELECT CAST(sum(iv_cell_micro) AS BIGINT) AS iv_micro
             |        FROM cell)
             |SELECT cell.bin, cell.n_pos, cell.n_neg,
             |  CAST(pos_share_micro AS BIGINT) AS pos_share_micro,
             |  CAST(neg_share_micro AS BIGINT) AS neg_share_micro,
             |  cell.woe_micro, cell.iv_cell_micro, tot.iv_micro
             |FROM cell, tot ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------------------
    // q269 — MDE/power report (X112, Experiment.mdeReport): how small a
    // lift each md5-assigned arm could even detect at 5%/80% — z
    // quantiles as hardcoded micro literals, exact integer n/Σ/Σ², and
    // the one-division/one-sqrt/two-multiply presentation chain both
    // engines state in the same order (the q234 Welch discipline). The
    // oracle replays the assignment, the exact sums in HUGEINT, and the
    // identical double chain.
    Q("q269_mde_report",
      (s, dir) =>
        graft.ops.Experiment.mdeReport(
            t(s, dir, "orders").select(
              concat(lit("a"), (conv(substring(md5(concat(lit("mde:"),
                col("o_custkey").cast("string"))), 1, 8), 16, 10)
                .cast("long") % 3).cast("string")).as("arm"),
              round(col("o_totalprice") * 100).cast("long").as("cents")),
            col("arm"), col("cents"))
          .orderBy("arm"),
      Some("""WITH m AS (SELECT 'a' || CAST(('0x' || substr(md5('mde:' ||
             |      CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT % 3
             |      AS VARCHAR) AS arm,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
             |  FROM orders),
             |a AS (SELECT arm, count(*) AS n,
             |    sum(CAST(v AS HUGEINT)) AS s,
             |    sum(CAST(v AS HUGEINT) * v) AS q FROM m GROUP BY 1),
             |b AS (SELECT arm, n, CAST(s // n AS BIGINT) AS mean_micro,
             |    sqrt(CAST(n * q - s * s AS DOUBLE)
             |         / CAST(n * (n - 1) AS DOUBLE)) AS sd
             |  FROM a),
             |c AS (SELECT arm, n, mean_micro,
             |    CAST(round(sd) AS BIGINT) AS sd_micro,
             |    CAST(round(2.801585 * sd * sqrt(2.0 / n)) AS BIGINT)
             |      AS mde_abs_micro
             |  FROM b)
             |SELECT arm, n, mean_micro, sd_micro, mde_abs_micro,
             |  CASE WHEN mean_micro <> 0 THEN
             |    CAST(mde_abs_micro * 1000000 // abs(mean_micro) AS BIGINT)
             |  END AS mde_rel_micro
             |FROM c ORDER BY arm""".stripMargin)),

    // ------------------------------------------------------------------
    // q270 — INCREMENTAL trend monitoring on the ledger (X100 ⊗ X75):
    // the OLS sums are commutative-monoid partials, so drift-rate
    // monitoring needs no corpus rescan — each arrival batch commits its
    // (n, Σx, Σy, Σxy, Σx²) per group exactly once through the AggView
    // ledger (replay no-ops frame-free, compaction mid-stream), and the
    // slope reads off the MERGED sums bit-identical to the direct closed
    // form (required in-query). The oracle is q257's oracle verbatim —
    // the ledger path must vanish from the answer.
    Q("q270_incremental_trend",
      (s, dir) => {
        import graft.ops.AggView
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("x"))
          .agg(count(lit(1)).as("y"))
          .select(col("event_type"), col("x"), col("y"),
            (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"))
        val gc = Seq("event_type")
        val ms = Seq(AggView.Measure("x", 0), AggView.Measure("y", 0),
          AggView.Measure("xy", 0), AggView.Measure("xx", 0))
        val work = workDir("q270").toString
        def batch(i: Int) = daily.filter(
          if (i == 0) col("x") < 19735L
          else if (i == 1) col("x") >= 19735L && col("x") < 19745L
          else col("x") >= 19745L)
        require(AggView.commitSegment(s, work, "tr", 0L, batch(0), gc, ms),
          "batch 0 did not commit")
        require(AggView.commitSegment(s, work, "tr", 1L, batch(1), gc, ms),
          "batch 1 did not commit")
        require(!AggView.commitSegment(s, work, "tr", 0L,
          sys.error("replayed batch rebuilt its plan"), gc, ms),
          "batch replay wrote")
        require(AggView.compact(s, work, "tr", gc, ms, maxDeltas = 0),
          "compaction did not fold")
        require(AggView.commitSegment(s, work, "tr", 2L, batch(2), gc, ms),
          "batch 2 did not commit")
        val merged = AggView.merge(
          graft.core.Table(s, work, "tr").readLedger, gc, ms)
        val view = merged.select(col("event_type"), col("cnt").as("n"),
          expr("CAST(CASE WHEN cnt >= 2 " +
            "AND cnt * sum_xx - sum_x * sum_x <> 0 THEN " +
            "(cnt * sum_xy - sum_x * sum_y) * 1000000 " +
            "DIV (cnt * sum_xx - sum_x * sum_x) END AS BIGINT)")
            .as("slope_micro"),
          expr("CAST(sum_x * 1000000 DIV cnt AS BIGINT)").as("mean_x_micro"),
          expr("CAST(sum_y * 1000000 DIV cnt AS BIGINT)").as("mean_y_micro"))
        val a = view.orderBy("event_type").collect().toSeq
        val b = graft.ops.Ops.trendSlopes(daily, gc, col("x"), col("y"))
          .orderBy("event_type").collect().toSeq
        require(a == b,
          s"ledger-maintained slope diverged from the closed form:\n" +
            s"  ledger $a\n  direct $b")
        view.orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
             |    count(*) AS y
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |a AS (SELECT event_type, count(*) AS n,
             |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             |    sum(CAST(x AS HUGEINT) * y) AS sxy,
             |    sum(CAST(x AS HUGEINT) * x) AS sxx
             |  FROM d GROUP BY 1)
             |SELECT event_type, n,
             |  CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN
             |    CAST((n * sxy - sx * sy) * 1000000
             |         // (n * sxx - sx * sx) AS BIGINT) END AS slope_micro,
             |  CAST(sx * 1000000 // n AS BIGINT) AS mean_x_micro,
             |  CAST(sy * 1000000 // n AS BIGINT) AS mean_y_micro
             |FROM a ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q271 — exact ROC AUC per source (X113, RankStats.aucReport): does
    // document length rank the content label, per source — the
    // Mann-Whitney identity with DOUBLED midranks, so ties earn their
    // exact half credit and the whole statistic is integer arithmetic
    // (no trapezoids, no floats). One-class sources emit NULL auc. The
    // oracle replays the per-score collapse, the midranks, and the U
    // identity in HUGEINT.
    Q("q271_auc_report",
      (s, dir) => {
        val toks = graft.text.TextStats.tokens(col("text"))
        graft.ops.RankStats.aucReport(
            t(s, dir, "documents").select(col("source"),
              size(toks).cast("long").as("sc"),
              array_contains(toks, "data").as("l")),
            Seq("source"), col("sc"), col("l"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source AS g, len($dTok) AS s,
             |    list_contains($dTok, 'data') AS l FROM documents),
             |ps AS (SELECT g, s, count(*) AS cnt,
             |    count(*) FILTER (l) AS pos FROM d GROUP BY 1, 2),
             |r AS (SELECT *, coalesce(sum(cnt) OVER (PARTITION BY g
             |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 1 PRECEDING), 0) AS bef FROM ps),
             |a AS (SELECT g, sum(pos) AS n_pos, sum(cnt - pos) AS n_neg,
             |    sum(CAST(pos AS HUGEINT) * (2 * bef + cnt + 1)) AS posdr
             |  FROM r GROUP BY 1)
             |SELECT g AS source, CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_neg AS BIGINT) AS n_neg,
             |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             |    (posdr - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
             |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) END AS BIGINT)
             |    AS auc_micro
             |FROM a ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q272 — Gini spend concentration per nation (X114,
    // RankStats.giniIndex): how unequally order spend spreads over a
    // nation's customers — the discrete Lorenz identity
    // (2Σi·x − (n+1)Σx) DIV (nΣx), exact integers end to end (rank-sum
    // is tie-invariant over equal values, so no midrank machinery).
    // Holders are customers WITH orders (the join defines the
    // population). The oracle replays the per-customer rollup, the rank
    // window, and the identity in HUGEINT.
    Q("q272_gini_concentration",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
          .join(t(s, dir, "customer").select(col("c_custkey")
            .as("o_custkey"), col("c_nationkey")), "o_custkey")
        graft.ops.RankStats.giniIndex(spend, Seq("c_nationkey"),
            col("cents"))
          .orderBy("c_nationkey")
      },
      Some("""WITH sp AS (SELECT o.o_custkey,
             |    sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS v
             |  FROM orders o GROUP BY 1),
             |j AS (SELECT c.c_nationkey AS g, sp.v
             |      FROM sp JOIN customer c ON c.c_custkey = sp.o_custkey),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g
             |        ORDER BY v) AS i FROM j),
             |a AS (SELECT g, count(*) AS n, sum(CAST(v AS HUGEINT)) AS t,
             |    sum(CAST(i AS HUGEINT) * v) AS s1 FROM r GROUP BY 1)
             |SELECT g AS c_nationkey, n, CAST(t AS BIGINT) AS total,
             |  CAST(CASE WHEN t > 0 THEN
             |    (2 * s1 - (n + 1) * t) * 1000000 // (n * t) END AS BIGINT)
             |    AS gini_micro
             |FROM a ORDER BY c_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q273 — Spearman monotonicity per event type (X115,
    // RankStats.spearmanCorr): is daily volume monotone in time — the
    // nonparametric companion to q257's slope, immune to outliers and
    // rescaling, with the TIE-CORRECT doubled-midrank definition (the
    // 6Σd² shortcut is wrong under ties). Exact rank sums; the final
    // quotient is the q234 double chain. The oracle replays both rank
    // assignments and the identical chain.
    Q("q273_spearman_trend",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("cnt"))
        graft.ops.RankStats.spearmanCorr(daily, Seq("event_type"),
            col("day"), col("cnt"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type AS g,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
             |    count(*) AS y
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |rx AS (SELECT *, row_number() OVER (PARTITION BY g
             |        ORDER BY x) AS rnx FROM d),
             |rx2 AS (SELECT *, min(rnx) OVER (PARTITION BY g, x)
             |      + max(rnx) OVER (PARTITION BY g, x) AS ra FROM rx),
             |ry AS (SELECT *, row_number() OVER (PARTITION BY g
             |        ORDER BY y) AS rny FROM rx2),
             |ry2 AS (SELECT *, min(rny) OVER (PARTITION BY g, y)
             |      + max(rny) OVER (PARTITION BY g, y) AS rb FROM ry),
             |a AS (SELECT g, count(*) AS n,
             |    sum(CAST(ra AS HUGEINT)) AS sa,
             |    sum(CAST(rb AS HUGEINT)) AS sb,
             |    sum(CAST(ra AS HUGEINT) * rb) AS sab,
             |    sum(CAST(ra AS HUGEINT) * ra) AS saa,
             |    sum(CAST(rb AS HUGEINT) * rb) AS sbb
             |  FROM ry2 GROUP BY 1)
             |SELECT g AS event_type, n,
             |  CASE WHEN n >= 2 AND CAST(n * saa - sa * sa AS DOUBLE) > 0
             |       AND CAST(n * sbb - sb * sb AS DOUBLE) > 0 THEN
             |    CAST(round(CAST(n * sab - sa * sb AS DOUBLE)
             |      / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
             |         * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
             |      * 1000000) AS BIGINT) END AS rho_micro
             |FROM a ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q274 — STREAMING WAU on a sketch ledger (X98 ⊗ X27 ⊗ X59): the
    // full 100 TB dashboard deployment shape — each arrival batch
    // commits its per-day HLL sketches exactly once (replay no-ops
    // frame-free), compaction folds fragmented days by SKETCH UNION
    // (HLL is a monoid, so the ledger's merge-preservation contract
    // holds), and the WAU series reads off trailing-window unions of
    // the few-KB committed rows — history is never rescanned, not at
    // read time and not at compaction. The exact face is ground truth
    // in the same output; the estimate rides the q109/q252 bound-flag
    // contract.
    Q("q274_streaming_wau_sketch",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
        val work = workDir("q274")
        val tbl = graft.core.Table(s, work.toString, "wau")
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          tbl.ledgerAppendIfAbsent(batchId, batch.groupBy("day")
            .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk")))
          ()
        }
        Staging.fileStream(work, ev.filter(col("day") < 19735L),
          ev.filter(col("day") >= 19735L && col("day") < 19745L),
          ev.filter(col("day") >= 19745L)).drain(onBatch)
        // restart idempotence: a replayed batch id no-ops frame-free
        require(!tbl.ledgerAppendIfAbsent(0L,
          sys.error("replayed batch rebuilt its sketch frame")),
          "batch replay wrote")
        // compaction folds fragmented days by SKETCH UNION — the HLL
        // monoid satisfies the ledger's merge-preservation contract
        require(tbl.ledgerCompact(0, f => f.groupBy("day")
            .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))),
          "compaction did not fold")
        val dailySk = tbl.readLedger.groupBy("day")
          .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
        val est = dailySk
          .select(col("sk"),
            explode(sequence(col("day"), col("day") + 6)).as("rday"))
          .join(dailySk.select(col("day").as("rday")), "rday")
          .groupBy("rday")
          .agg(hll_union_agg(col("sk"), lit(false)).as("u"))
          .select(col("rday").as("day"),
            hll_sketch_estimate(col("u")).cast("long").as("est"))
        val exact = graft.ops.TimeSeries.rollingActive(
          Relational.events(s, dir), col("user_id"), col("ts"),
          windowDays = 7)
        exact.join(est, "day")
          .select(col("day"), col("n_active"),
            (abs(col("est") - col("n_active")).cast("double")
              <= col("n_active") * 0.065).as("within_bound"))
          .orderBy("day")
      },
      Some("""WITH kd AS (SELECT DISTINCT user_id AS k,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |obs AS (SELECT DISTINCT d AS day FROM kd),
             |proj AS (SELECT kd.k, kd.d + i.i AS day
             |  FROM kd, (SELECT unnest(range(7)) AS i) i)
             |SELECT p.day, count(DISTINCT p.k) AS n_active,
             |  TRUE AS within_bound
             |FROM proj p JOIN obs ON obs.day = p.day
             |GROUP BY p.day ORDER BY p.day""".stripMargin)),

    // ------------------------------------------------------------------
    // q238 — Bloom membership filter (X89, Sketches.bloomSketch/Probe):
    // the decontamination pre-filter shape — build the filter over the
    // parts urgent orders touched, probe EVERY part, and report the
    // confusion against true membership: zero false negatives
    // (structural, required in-query), a handful of false positives at
    // the design rate. Row-form md5 positions make the WHOLE filter
    // engine-replayable: the oracle rebuilds every set bit and replays
    // every probe — the same sketch-family contract as q131's CMS.
    Q("q238_bloom_filter",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val urgent = li.join(
          t(s, dir, "orders").filter(col("o_orderpriority").startsWith("1"))
            .select(col("o_orderkey").as("l_orderkey")),
          "l_orderkey")
        val sk = Sketches.bloomSketch(urgent, col("l_partkey"),
          bits = 16384, hashes = 5, seed = "s238")
        val probes = t(s, dir, "part").select(col("p_partkey"))
        val probed = Sketches.bloomProbe(sk, probes, "p_partkey",
          bits = 16384, hashes = 5, seed = "s238")
        val truth = urgent.select(col("l_partkey").as("p_partkey"))
          .distinct().withColumn("__true", lit(true))
        val conf = probed.join(truth, Seq("p_partkey"), "left")
          .select(col("member"), coalesce(col("__true"), lit(false)).as("t"))
        val out = conf.agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("t"), 1L).otherwise(0L)).as("true_members"),
          sum(when(col("member"), 1L).otherwise(0L)).as("bloom_positive"),
          sum(when(col("member") && !col("t"), 1L).otherwise(0L))
            .as("false_positives"),
          sum(when(!col("member") && col("t"), 1L).otherwise(0L))
            .as("false_negatives"))
        require(out.select("false_negatives").collect()(0).getLong(0) == 0L,
          "a Bloom filter produced a false negative — the structure is broken")
        out
      },
      Some("""WITH urgent AS (SELECT DISTINCT l.l_partkey
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE o.o_orderpriority LIKE '1%'),
             |bits AS (SELECT DISTINCT
             |    ('0x' || substr(md5('s238:' || i.i || ':' ||
             |        CAST(l_partkey AS VARCHAR)), 1, 15))::UBIGINT % 16384 AS pos
             |  FROM urgent, (SELECT unnest(range(5)) AS i) i),
             |probe AS (SELECT p_partkey,
             |    ('0x' || substr(md5('s238:' || i.i || ':' ||
             |        CAST(p_partkey AS VARCHAR)), 1, 15))::UBIGINT % 16384 AS pos
             |  FROM part, (SELECT unnest(range(5)) AS i) i),
             |m AS (SELECT p.p_partkey,
             |    count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
             |      AS member
             |  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
             |  GROUP BY p.p_partkey),
             |c AS (SELECT m.member,
             |    m.p_partkey IN (SELECT l_partkey FROM urgent) AS t FROM m)
             |SELECT count(*) AS n_probes,
             |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS true_members,
             |  CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS bloom_positive,
             |  CAST(sum(CASE WHEN member AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
             |    AS false_positives,
             |  CAST(sum(CASE WHEN NOT member AND t THEN 1 ELSE 0 END) AS BIGINT)
             |    AS false_negatives
             |FROM c""".stripMargin)),

    // ------------------------------------------------------------------
    // q275 — quantile calibration, KLL sketch face (X51 ⊗ X27,
    // Calibrate.quantileCalibrateSketch): the 100 TB path SURVEY's X51
    // row documents — the reference source's scores collapse into one
    // mergeable KLL sketch (a partial aggregation; k-sized buffers cross
    // the shuffle, never values) evaluated at a bounded rank grid, so
    // the broadcast array is grid-sized however large the reference
    // grows. The exact face is ground truth in the same output (the
    // operator composition REUSES its window — one per-source sort for
    // both faces); the sketch estimate rides a rank-agreement bound flag
    // (KLL ~1.65% rank error at k=200, + 1/grid resolution + the
    // rank-convention slack at small n — the q109/q252 contract, since
    // KLL compaction is randomized and the binary doesn't replay
    // outside the JVM): the estimate must sit between the exact
    // reference values at pct ± 0.10.
    Q("q275_quantile_sketch_calibration",
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            (TextStats.qualityScore(col("text")) * 1e6).cast("long").as("q"))
        val exact = graft.ops.Calibrate.quantileCalibrate(scored,
          col("source"), col("q"), refSource = "src0")
        val both = graft.ops.Calibrate.quantileCalibrateSketch(exact,
          col("source"), col("q"), refSource = "src0", grid = 100)
        // the gate's two bound probes ride the same bucketed step index
        // as the operator (per-row O(1), not a per-row ref-array scan):
        // lo = exact value at the last step ≤ pct−0.1, hi = the step
        // AFTER the one at pct+0.1 (its `nq` field)
        val refIdx = graft.ops.Calibrate.stepIndex(
          exact.filter(col("source") === "src0")
            .select(col("pct").as("p"), col("q").as("qr")))
        def probe(at: org.apache.spark.sql.Column) =
          graft.ops.Calibrate.stepLookup(col("__qc_idx"), at, 4096)
        both.crossJoin(broadcast(refIdx))
          .withColumn("__lo", probe(col("pct") - 0.10).getField("qr"))
          .withColumn("__hi", coalesce(
            probe(col("pct") + 0.10).getField("nq"), lit(Long.MaxValue)))
          .drop("__qc_idx")
          .select(col("doc_id"), col("source"), col("q"), col("q_cal"),
            (col("q_cal_est") >= coalesce(col("__lo"), lit(Long.MinValue)) &&
              col("q_cal_est") <= col("__hi")).as("within_bound"))
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (SELECT doc_id, source,
             |    CAST(trunc(($dQuality) * 1000000) AS BIGINT) AS q
             |  FROM documents),
             |p AS (SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY q) AS pct
             |      FROM scored),
             |ref AS (SELECT pct AS pr, q AS qr FROM p WHERE source = 'src0')
             |SELECT p.doc_id, p.source, p.q, r.qr AS q_cal,
             |  TRUE AS within_bound
             |FROM p ASOF JOIN ref r ON p.pct >= r.pr
             |ORDER BY p.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q276 — Kaplan-Meier with the Greenwood band (X116,
    // Survival.kaplanMeierCI): q261's churn subjects, now published the
    // way survival curves actually ship — with standard errors and the
    // z·SE confidence band. The Greenwood accumulator is a RUNNING SUM
    // of per-step floored nano terms riding the same recursive
    // trajectory as S, so the oracle replays survival, variance, and
    // the IEEE presentation chain (sqrt → multiply → round) step for
    // step; a group whose risk set dies out entirely (n = d) poisons
    // its variance to NULL from that step on, replayed by a carried
    // boolean in the recursion.
    Q("q276_km_greenwood",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"),
            min(struct(col("us"), col("event_id"), col("event_type")))
              .as("__f"))
          .select(col("__f").getField("event_type").as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.kaplanMeierCI(subjects, col("grp0"), col("dur"),
            col("churned"))
          .orderBy("grp", "t")
      },
      Some("""WITH RECURSIVE e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             |    event_type
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per0 AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS rn,
             |    min(us) OVER (PARTITION BY user_id) AS fus,
             |    max(us) OVER (PARTITION BY user_id) AS lus
             |  FROM e),
             |per AS (SELECT event_type AS grp,
             |    (lus - fus) // 86400000000 AS t,
             |    lus < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM per0 WHERE rn = 1),
             |st AS (SELECT grp, t,
             |    sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS al
             |  FROM per GROUP BY 1, 2),
             |wk AS (SELECT grp, t, d,
             |    sum(al) OVER (PARTITION BY grp)
             |      - coalesce(sum(al) OVER (PARTITION BY grp ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND 1 PRECEDING), 0) AS n
             |  FROM st),
             |sp AS (SELECT grp, t, n, d,
             |    row_number() OVER (PARTITION BY grp ORDER BY t) AS rn
             |  FROM wk WHERE d > 0),
             |km AS (SELECT grp, t, n, d, rn,
             |    1000000 * (n - d) // n AS s,
             |    CASE WHEN n = d THEN 0
             |         ELSE d * 1000000000 // (n * (n - d)) END AS gw,
             |    n = d AS po
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.grp, sp.t, sp.n, sp.d, sp.rn,
             |    km.s * (sp.n - sp.d) // sp.n,
             |    km.gw + CASE WHEN sp.n = sp.d THEN 0
             |      ELSE sp.d * 1000000000 // (sp.n * (sp.n - sp.d)) END,
             |    km.po OR sp.n = sp.d
             |  FROM km JOIN sp ON sp.grp = km.grp AND sp.rn = km.rn + 1)
             |SELECT grp, t, CAST(n AS BIGINT) AS n_risk,
             |  CAST(d AS BIGINT) AS d_events, CAST(s AS BIGINT) AS s_micro,
             |  CASE WHEN po THEN NULL ELSE CAST(round(CAST(s AS DOUBLE)
             |    * sqrt(CAST(gw AS DOUBLE) / 1000000000.0)) AS BIGINT)
             |    END AS se_micro,
             |  CASE WHEN po THEN NULL ELSE CAST(greatest(0, s -
             |    round(1.959964 * (CAST(s AS DOUBLE)
             |      * sqrt(CAST(gw AS DOUBLE) / 1000000000.0)))) AS BIGINT)
             |    END AS lo_micro,
             |  CASE WHEN po THEN NULL ELSE CAST(least(1000000, s +
             |    round(1.959964 * (CAST(s AS DOUBLE)
             |      * sqrt(CAST(gw AS DOUBLE) / 1000000000.0)))) AS BIGINT)
             |    END AS hi_micro
             |FROM km ORDER BY grp, t""".stripMargin)),

    // ------------------------------------------------------------------
    // q277 — two-group log-rank test (X116, Survival.logRank): did the
    // even-user cohort churn on a different clock than the odd cohort?
    // O/E/V accumulate over pooled event times as per-step FLOORED
    // integers (micro/nano) from HUGEINT-replayable products — the
    // oracle rebuilds the risk walk relationally (at-risk = total minus
    // departures before t) and re-sums every floored term; only the
    // final χ² presentation touches doubles, stated in the same order
    // by both engines.
    Q("q277_log_rank",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"))
          .select(
            when(pmod(col("user_id"), lit(2)) === 0, "even")
              .otherwise("odd").as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.logRank(subjects, col("grp0"), col("dur"),
          col("churned"))
      },
      Some("""WITH e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
             |      ELSE 'odd' END AS grp,
             |    (max(us) - min(us)) // 86400000000 AS t,
             |    max(us) < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM e GROUP BY user_id),
             |gt AS (SELECT grp, t, sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d,
             |    count(*) AS al FROM per GROUP BY 1, 2),
             |tot AS (SELECT grp, sum(al) AS na FROM gt GROUP BY 1),
             |r AS (SELECT g.t, tg.grp,
             |    tg.na - coalesce((SELECT sum(al) FROM gt x
             |      WHERE x.grp = tg.grp AND x.t < g.t), 0) AS n,
             |    coalesce((SELECT d FROM gt x
             |      WHERE x.grp = tg.grp AND x.t = g.t), 0) AS d
             |  FROM (SELECT DISTINCT t FROM gt) g CROSS JOIN tot tg),
             |pool AS (SELECT t,
             |    max(CASE WHEN grp = 'even' THEN n END) AS na,
             |    max(CASE WHEN grp = 'odd' THEN n END) AS nb,
             |    max(CASE WHEN grp = 'even' THEN d END) AS da,
             |    max(CASE WHEN grp = 'odd' THEN d END) AS db
             |  FROM r GROUP BY t),
             |acc AS (SELECT sum(da) AS oa, sum(db) AS ob,
             |    sum((da + db)::HUGEINT * na * 1000000 // (na + nb)) AS ea,
             |    sum((da + db)::HUGEINT * nb * 1000000 // (na + nb)) AS eb,
             |    sum(CASE WHEN na + nb >= 2 THEN
             |      (da + db)::HUGEINT * na * nb * (na + nb - da - db)
             |        * 1000000000
             |      // ((na + nb)::HUGEINT * (na + nb) * (na + nb - 1))
             |      ELSE 0 END) AS v
             |  FROM pool WHERE da + db > 0)
             |SELECT 'even' AS grp_a, 'odd' AS grp_b,
             |  (SELECT CAST(na AS BIGINT) FROM tot WHERE grp = 'even') AS n_a,
             |  (SELECT CAST(na AS BIGINT) FROM tot WHERE grp = 'odd') AS n_b,
             |  CAST(oa AS BIGINT) AS o_a, CAST(ea AS BIGINT) AS e_a_micro,
             |  CAST(ob AS BIGINT) AS o_b, CAST(eb AS BIGINT) AS e_b_micro,
             |  CAST(v AS BIGINT) AS var_nano,
             |  CASE WHEN v > 0 THEN CAST(round(
             |    CAST(oa * 1000000 - ea AS DOUBLE)
             |      * CAST(oa * 1000000 - ea AS DOUBLE)
             |      / CAST(v AS DOUBLE) * 1000.0) AS BIGINT)
             |    END AS chi2_micro
             |FROM acc""".stripMargin)),

    // ------------------------------------------------------------------
    // q278 — weighted shortest paths (X117, Graph.sssp): cheapest
    // quantity-weighted route from the five seed parts over q262's
    // part↔supplier bipartite graph, three legs max — synchronous
    // min-plus relaxation, so after k rounds every node holds the exact
    // minimum over ≤ k-edge paths. Parallel part↔supplier edges
    // collapse to their MIN quantity before the first join (both
    // engines). The oracle replays the whole relaxation with a
    // depth-carrying recursive CTE and takes min(dist) per node — any
    // frontier, merge, or cap slip breaks the hash.
    Q("q278_weighted_sssp",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
            (col("l_suppkey") * 10 + 1).as("dst"),
            col("l_quantity").cast("long").as("w"))
          .unionAll(li.select((col("l_suppkey") * 10 + 1).as("src"),
            (col("l_partkey") * 10).as("dst"),
            col("l_quantity").cast("long").as("w")))
        val sources = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.sssp(edges, sources, maxIters = 3)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT src, dst, min(w) AS w FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst,
             |      CAST(l_quantity AS BIGINT) AS w FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10,
             |      CAST(l_quantity AS BIGINT) FROM lineitem)
             |  GROUP BY src, dst),
             |s AS (SELECT p_partkey * 10 AS id FROM part
             |      WHERE p_partkey <= 5),
             |r AS (SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS k FROM s
             |  UNION
             |  SELECT e.dst AS id, r.dist + e.w AS dist, r.k + 1 AS k
             |  FROM r JOIN e ON e.src = r.id WHERE r.k < 3)
             |SELECT id, CAST(min(dist) AS BIGINT) AS dist
             |FROM r GROUP BY id ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q279 — exact two-sample KS drift test (X118, RankStats.ksTest):
    // "does account-balance distribution differ between the BUILDING and
    // MACHINERY segments, per nation?" — D evaluated only at observed
    // values as exact cross-multiplied integers, the λ presentation one
    // IEEE chain. The oracle rebuilds both ECDFs with the same tie
    // collapse and windows in HUGEINT and re-states the chain.
    Q("q279_ks_test",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        val n = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
        graft.ops.RankStats.ksTest(c.join(broadcast(n), "c_nationkey"),
            Seq("n_name"), (col("c_acctbal") * 100).cast("long"),
            col("c_mktsegment"))
          .orderBy("n_name")
      },
      Some("""WITH b AS (SELECT n_name,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS v,
             |    c_mktsegment AS s
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
             |pv AS (SELECT n_name, v,
             |    sum(CASE WHEN s = 'BUILDING' THEN 1 ELSE 0 END) AS ca,
             |    sum(CASE WHEN s = 'MACHINERY' THEN 1 ELSE 0 END) AS cb
             |  FROM b GROUP BY 1, 2),
             |st AS (SELECT n_name,
             |    sum(ca) OVER (PARTITION BY n_name ORDER BY v) AS cumA,
             |    sum(cb) OVER (PARTITION BY n_name ORDER BY v) AS cumB,
             |    sum(ca) OVER (PARTITION BY n_name) AS na,
             |    sum(cb) OVER (PARTITION BY n_name) AS nb
             |  FROM pv),
             |agg AS (SELECT n_name, max(na) AS n_a, max(nb) AS n_b,
             |    max(abs(cumA::HUGEINT * nb - cumB::HUGEINT * na)) AS md
             |  FROM st GROUP BY 1)
             |SELECT n_name, CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  CASE WHEN n_a > 0 AND n_b > 0 THEN
             |    CAST(md * 1000000 // (n_a::HUGEINT * n_b) AS BIGINT)
             |    END AS d_micro,
             |  CASE WHEN n_a > 0 AND n_b > 0 THEN
             |    CAST(round(sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
             |      * CAST(md * 1000000 // (n_a::HUGEINT * n_b) AS DOUBLE))
             |      AS BIGINT) END AS ks_micro
             |FROM agg ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q280 — SES forecast backtest (X120, TimeSeries.sesBacktest): the
    // exponentially-discounted level baseline over per-type daily event
    // volumes, α = 0.3 — the whole floored 128-bit trajectory (level,
    // one-step forecast, error) sits under the hash; the oracle replays
    // it with a recursive CTE in HUGEINT.
    Q("q280_ses_backtest",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.sesBacktest(daily, col("event_type"),
            col("day"), col("y"), alphaMicro = 300000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM d),
             |tr AS (SELECT g, p, y, rn, CAST(NULL AS BIGINT) AS f,
             |    CAST(y AS BIGINT) AS l
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.p, sp.y, sp.rn, tr.l,
             |    CAST((300000::HUGEINT * sp.y + 700000::HUGEINT * tr.l)
             |      // 1000000 AS BIGINT)
             |  FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  f AS forecast_micro, CAST(y - f AS BIGINT) AS err_micro,
             |  l AS level_micro
             |FROM tr ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q281 — per-file Bloom skipping lifecycle (X119, BloomSkip): the
    // equality complement to q211/q214's zone maps — lineitem lands as 8
    // orderkey-sharded files, a Bloom manifest indexes l_suppkey, and
    // point lookups read only files whose filter might hold the key
    // (false negatives required impossible in-query). Then the zone-map
    // lifecycle replay: an appended 9th shard flips reads into the
    // staleness refusal, buildIncremental scans ONLY the new file, and
    // the new shard's key is found. The md5 row-form bits make the WHOLE
    // index engine-replayable: the oracle rebuilds every per-shard bit,
    // replays both probes' keep decisions, and re-derives the fetched
    // rows relationally (the q238 contract, lifted to the file level).
    Q("q281_bloom_skip",
      (s, dir) => {
        val work = workDir("q281")
        val dataDir = s"$work/data"
        val manDir = s"$work/man"
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
          .withColumn("__shard", pmod(col("l_orderkey"), lit(8)))
          .repartition(1)
          .write.partitionBy("__shard").mode("overwrite").parquet(dataDir)
        graft.ops.BloomSkip.build(s, dataDir, manDir, "l_suppkey",
          bits = 16384, hashes = 5, seed = "s281")
        val (base, st1) = graft.ops.BloomSkip.prunedRead(s, dataDir, manDir,
          Seq(3L, 7L))
        val baseRows = base.groupBy(col("l_suppkey").as("probe"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_orderkey")).as("orders"))
          .select(lit("base").as("phase"),
            lit(st1.filesTotal).as("files_total"),
            lit(st1.filesKept).as("files_kept"),
            col("probe"), col("n_rows"), col("orders"))
        // false negatives are structurally impossible — audit anyway
        val direct = t(s, dir, "lineitem")
          .filter(col("l_suppkey").isin(3L, 7L)).count()
        require(base.count() == direct,
          s"bloom skip dropped rows: ${base.count()} != $direct")
        // lifecycle: a 9th shard lands with a brand-new supplier key
        import s.implicits._
        (1 to 50).map(i => (1000000L + i, i.toLong, 5000L))
          .toDF("l_orderkey", "l_partkey", "l_suppkey").coalesce(1)
          .write.parquet(s"$dataDir/__shard=8")
        val stale = scala.util.Try(
          graft.ops.BloomSkip.prunedRead(s, dataDir, manDir, Seq(3L)))
        require(stale.isFailure, "stale manifest was not refused")
        require(graft.ops.BloomSkip.buildIncremental(s, dataDir, manDir) ==
          ((8, 1, 0)), "incremental refresh miscounted")
        val (incr, st2) = graft.ops.BloomSkip.prunedRead(s, dataDir, manDir,
          Seq(5000L))
        val incrRows = incr.groupBy(col("l_suppkey").as("probe"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_orderkey")).as("orders"))
          .select(lit("incr").as("phase"),
            lit(st2.filesTotal).as("files_total"),
            lit(st2.filesKept).as("files_kept"),
            col("probe"), col("n_rows"), col("orders"))
        baseRows.unionByName(incrRows).orderBy("phase", "probe")
      },
      Some("""WITH shards AS (SELECT l_orderkey % 8 AS shard, l_orderkey,
             |    l_suppkey FROM lineitem
             |  UNION ALL
             |  SELECT 8, 1000000 + i.i, 5000
             |  FROM (SELECT unnest(range(1, 51)) AS i) i),
             |bits AS (SELECT DISTINCT shard,
             |    ('0x' || substr(md5('s281:' || h.i || ':' ||
             |      CAST(l_suppkey AS VARCHAR)), 1, 15))::UBIGINT
             |      % 16384 AS pos
             |  FROM shards, (SELECT unnest(range(5)) AS i) h),
             |probes AS (SELECT ph, pk, h.i AS hi,
             |    ('0x' || substr(md5('s281:' || h.i || ':' ||
             |      CAST(pk AS VARCHAR)), 1, 15))::UBIGINT % 16384 AS pos
             |  FROM (SELECT 'base' AS ph, unnest([3, 7]) AS pk
             |        UNION ALL SELECT 'incr', 5000) p,
             |    (SELECT unnest(range(5)) AS i) h),
             |keep AS (SELECT p.ph, b.shard, p.pk,
             |    count(*) = 5 AS hit
             |  FROM probes p JOIN bits b
             |    ON p.pos = b.pos AND (p.ph = 'incr' OR b.shard < 8)
             |  GROUP BY 1, 2, 3),
             |kept AS (SELECT ph, count(DISTINCT shard) AS files_kept
             |  FROM keep WHERE hit GROUP BY 1),
             |rows_ AS (SELECT 'base' AS ph, l_suppkey AS probe,
             |    count(*) AS n_rows, sum(l_orderkey) AS orders
             |  FROM lineitem WHERE l_suppkey IN (3, 7) GROUP BY 2
             |  UNION ALL
             |  SELECT 'incr', 5000, 50, 50 * 1000000 + 1275)
             |SELECT r.ph AS phase,
             |  CAST(CASE WHEN r.ph = 'base' THEN 8 ELSE 9 END AS INTEGER)
             |    AS files_total,
             |  CAST(k.files_kept AS INTEGER) AS files_kept,
             |  CAST(r.probe AS BIGINT) AS probe,
             |  CAST(r.n_rows AS BIGINT) AS n_rows,
             |  CAST(r.orders AS BIGINT) AS orders
             |FROM rows_ r JOIN kept k ON k.ph = r.ph
             |ORDER BY phase, probe""".stripMargin)),

    // ------------------------------------------------------------------
    // q282 — Theil-Sen robust daily-volume slope per event type (X121,
    // TrendTests.theilSen): the outlier-immune companion to q257's OLS
    // slope — the nearest-rank median of all pairwise day slopes, every
    // pair slope an exact truncating division. The oracle rebuilds the
    // full pair set with a self-join and replays the X92 nearest-rank
    // pick.
    Q("q282_theil_sen",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("y"))
        graft.ops.TrendTests.theilSen(daily, Seq("event_type"),
            col("day"), col("y"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p, count(*) AS y
             |  FROM e GROUP BY 1, 2),
             |pr AS (SELECT a.g,
             |    (b.y - a.y) * 1000000 // (b.p - a.p) AS s
             |  FROM d a JOIN d b ON a.g = b.g AND a.p < b.p),
             |rk AS (SELECT g, s,
             |    row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n
             |  FROM pr)
             |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n_pairs,
             |  CAST(max(CASE WHEN rn = greatest(1,
             |    (500000 * n + 999999) // 1000000) THEN s END) AS BIGINT)
             |    AS ts_slope_micro
             |FROM rk GROUP BY g ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q283 — Mann-Kendall trend test per event type (X122,
    // TrendTests.mannKendall): is the daily volume monotonically
    // drifting? S as the exact pair-sign sum, the tie-corrected
    // variance as an exact integer numerator over 18, the
    // continuity-corrected z one IEEE chain. The oracle replays pairs,
    // tie groups, and the chain verbatim.
    Q("q283_mann_kendall",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("y"))
        graft.ops.TrendTests.mannKendall(daily, Seq("event_type"),
            col("day"), col("y"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p, count(*) AS y
             |  FROM e GROUP BY 1, 2),
             |s0 AS (SELECT a.g, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
             |  FROM d a JOIN d b ON a.g = b.g AND a.p < b.p GROUP BY 1),
             |np AS (SELECT g, count(*) AS n FROM d GROUP BY 1),
             |tc AS (SELECT g, sum(t * (t - 1) * (2 * t + 5)) AS corr
             |  FROM (SELECT g, y, count(*) AS t FROM d GROUP BY 1, 2) q
             |  GROUP BY 1),
             |f AS (SELECT np.g, np.n, s0.s,
             |    np.n * (np.n - 1) * (2 * np.n + 5) - tc.corr AS var18
             |  FROM np JOIN s0 ON s0.g = np.g JOIN tc ON tc.g = np.g)
             |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
             |  s AS s_stat, CAST(var18 AS BIGINT) AS var18,
             |  CASE WHEN var18 > 0 THEN CAST(round(
             |    CAST(s - sign(s) AS DOUBLE)
             |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000.0)
             |    AS BIGINT) END AS z_micro
             |FROM f ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q284 — token-weighted quality percentiles per source (X123,
    // Ops.weightedPercentiles): "the median quality TOKEN", not the
    // median document — the number a token-budget gate (X15/X24)
    // actually thresholds on. Weighted nearest-rank: smallest quality
    // value whose cumulative token mass reaches ceil(q*W), exact
    // integers, ties merged by value. The oracle replays the tie
    // collapse, both windows, and every threshold comparison in HUGEINT.
    Q("q284_weighted_percentiles",
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("source"),
          (TextStats.qualityScore(col("text")) * 1e6).cast("long").as("q"),
          TextStats.tokenCount(col("text")).cast("long").as("toks"))
          .filter(col("toks") > 0)
        Ops.weightedPercentiles(scored, Seq("source"), col("q"),
            col("toks"), Seq("p50" -> 500000L, "p90" -> 900000L))
          .orderBy("source")
      },
      Some(s"""WITH sc AS (SELECT source,
             |    CAST(trunc(($dQuality) * 1000000) AS BIGINT) AS q,
             |    len($dTok) AS w
             |  FROM documents),
             |f AS (SELECT * FROM sc WHERE w > 0),
             |pv AS (SELECT source, q, sum(w) AS vw, count(*) AS vc
             |  FROM f GROUP BY 1, 2),
             |st AS (SELECT source, q, vc,
             |    sum(vw) OVER (PARTITION BY source ORDER BY q) AS cw,
             |    sum(vw) OVER (PARTITION BY source) AS tw
             |  FROM pv)
             |SELECT source, CAST(sum(vc) AS BIGINT) AS n,
             |  CAST(max(tw) AS BIGINT) AS total_w,
             |  CAST(min(CASE WHEN cw::HUGEINT * 1000000 >=
             |    greatest(1000000::HUGEINT, tw::HUGEINT * 500000)
             |    THEN q END) AS BIGINT) AS p50,
             |  CAST(min(CASE WHEN cw::HUGEINT * 1000000 >=
             |    greatest(1000000::HUGEINT, tw::HUGEINT * 900000)
             |    THEN q END) AS BIGINT) AS p90
             |FROM st GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q285 — Holt linear-trend forecast backtest (X124,
    // TimeSeries.holtBacktest): the trend member between q280's SES
    // level and q266's seasonal repeat — two coupled floored 128-bit
    // recurrences (level + trend), α = 0.3, β = 0.1, zero-trend start.
    // The whole (ℓ, b) trajectory sits under the hash; the oracle
    // replays BOTH recurrences in one recursive CTE (the new level
    // expression substituted into the trend term — truncating HUGEINT
    // division toward zero on declines, matching BigInt).
    Q("q285_holt_backtest",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.holtBacktest(daily, col("event_type"),
            col("day"), col("y"), alphaMicro = 300000L,
            betaMicro = 100000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM d),
             |tr AS (SELECT g, p, y, rn, CAST(NULL AS BIGINT) AS f,
             |    CAST(y AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.p, sp.y, sp.rn,
             |    tr.l + tr.b,
             |    CAST((300000::HUGEINT * sp.y +
             |      700000::HUGEINT * (tr.l + tr.b)) // 1000000 AS BIGINT),
             |    CAST((100000::HUGEINT *
             |      (CAST((300000::HUGEINT * sp.y +
             |        700000::HUGEINT * (tr.l + tr.b)) // 1000000
             |        AS BIGINT) - tr.l) +
             |      900000::HUGEINT * tr.b) // 1000000 AS BIGINT)
             |  FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  f AS forecast_micro, CAST(y - f AS BIGINT) AS err_micro,
             |  l AS level_micro, b AS trend_micro
             |FROM tr ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q286 — shortest paths WITH predecessors (X126, Graph.ssspPaths):
    // q278's cheapest-route distances plus the canonical tree parent —
    // parent(v) = min{u : dist(u) + w(u,v) = dist(v)}, NULL at the
    // sources (dist 0) and where the 3-leg cap leaves no provably-tight
    // in-edge. The parent rule is a pure function of the distance
    // table, so the oracle re-derives every parent from its own
    // depth-carrying min-plus replay with one tight-edge join — any
    // tie-break or cap slip breaks the hash.
    Q("q286_sssp_paths",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
            (col("l_suppkey") * 10 + 1).as("dst"),
            col("l_quantity").cast("long").as("w"))
          .unionAll(li.select((col("l_suppkey") * 10 + 1).as("src"),
            (col("l_partkey") * 10).as("dst"),
            col("l_quantity").cast("long").as("w")))
        val sources = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.ssspPaths(edges, sources, maxIters = 3)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT src, dst, min(w) AS w FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst,
             |      CAST(l_quantity AS BIGINT) AS w FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10,
             |      CAST(l_quantity AS BIGINT) FROM lineitem)
             |  GROUP BY src, dst),
             |s AS (SELECT p_partkey * 10 AS id FROM part
             |      WHERE p_partkey <= 5),
             |r AS (SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS k FROM s
             |  UNION
             |  SELECT e.dst AS id, r.dist + e.w AS dist, r.k + 1 AS k
             |  FROM r JOIN e ON e.src = r.id WHERE r.k < 3),
             |d AS (SELECT id, CAST(min(dist) AS BIGINT) AS dist
             |  FROM r GROUP BY id),
             |par AS (SELECT e.dst AS id, min(e.src) AS parent
             |  FROM e
             |  JOIN d ds ON ds.id = e.src
             |  JOIN d dd ON dd.id = e.dst
             |  WHERE dd.dist > 0 AND ds.dist + e.w = dd.dist
             |  GROUP BY e.dst)
             |SELECT d.id, d.dist, CAST(par.parent AS BIGINT) AS parent
             |FROM d LEFT JOIN par ON par.id = d.id
             |ORDER BY d.id""".stripMargin)),

    // ------------------------------------------------------------------
    // q287 — K-group pairwise log-rank (X125, Survival.logRankK): four
    // user-id cohorts, six pairwise churn-clock tests from ONE step
    // table, each pair's O/E/V walk the exact q277 arithmetic, plus the
    // Bonferroni divisor m_tests = 6. The oracle cross-joins the pair
    // list against the pooled-time risk walk and re-sums every floored
    // HUGEINT term per pair.
    Q("q287_log_rank_k",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"))
          .select(
            concat(lit("c"), pmod(col("user_id"), lit(4))).as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.logRankK(subjects, col("grp0"), col("dur"),
            col("churned"))
          .orderBy("grp_a", "grp_b")
      },
      Some("""WITH e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per AS (SELECT 'c' || CAST(user_id % 4 AS VARCHAR) AS grp,
             |    (max(us) - min(us)) // 86400000000 AS t,
             |    max(us) < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM e GROUP BY user_id),
             |gt AS (SELECT grp, t, sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d,
             |    count(*) AS al FROM per GROUP BY 1, 2),
             |tot AS (SELECT grp, sum(al) AS na FROM gt GROUP BY 1),
             |pairs AS (SELECT a.grp AS ga, b.grp AS gb
             |  FROM tot a JOIN tot b ON a.grp < b.grp),
             |r AS (SELECT pr.ga, pr.gb, g.t, tg.grp,
             |    tg.na - coalesce((SELECT sum(al) FROM gt x
             |      WHERE x.grp = tg.grp AND x.t < g.t), 0) AS n,
             |    coalesce((SELECT d FROM gt x
             |      WHERE x.grp = tg.grp AND x.t = g.t), 0) AS d
             |  FROM pairs pr
             |  CROSS JOIN (SELECT DISTINCT t FROM gt) g
             |  JOIN tot tg ON tg.grp IN (pr.ga, pr.gb)),
             |pool AS (SELECT ga, gb, t,
             |    max(CASE WHEN grp = ga THEN n END) AS na,
             |    max(CASE WHEN grp = gb THEN n END) AS nb,
             |    max(CASE WHEN grp = ga THEN d END) AS da,
             |    max(CASE WHEN grp = gb THEN d END) AS db
             |  FROM r GROUP BY 1, 2, 3),
             |acc AS (SELECT ga, gb, sum(da) AS oa, sum(db) AS ob,
             |    sum((da + db)::HUGEINT * na * 1000000 // (na + nb)) AS ea,
             |    sum((da + db)::HUGEINT * nb * 1000000 // (na + nb)) AS eb,
             |    sum(CASE WHEN na + nb >= 2 THEN
             |      (da + db)::HUGEINT * na * nb * (na + nb - da - db)
             |        * 1000000000
             |      // ((na + nb)::HUGEINT * (na + nb) * (na + nb - 1))
             |      ELSE 0 END) AS v
             |  FROM pool WHERE da + db > 0 GROUP BY ga, gb)
             |SELECT acc.ga AS grp_a, acc.gb AS grp_b,
             |  (SELECT CAST(na AS BIGINT) FROM tot WHERE grp = acc.ga) AS n_a,
             |  (SELECT CAST(na AS BIGINT) FROM tot WHERE grp = acc.gb) AS n_b,
             |  CAST(oa AS BIGINT) AS o_a, CAST(ea AS BIGINT) AS e_a_micro,
             |  CAST(ob AS BIGINT) AS o_b, CAST(eb AS BIGINT) AS e_b_micro,
             |  CAST(v AS BIGINT) AS var_nano,
             |  CASE WHEN v > 0 THEN CAST(round(
             |    CAST(oa * 1000000 - ea AS DOUBLE)
             |      * CAST(oa * 1000000 - ea AS DOUBLE)
             |      / CAST(v AS DOUBLE) * 1000.0) AS BIGINT)
             |    END AS chi2_micro,
             |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS m_tests
             |FROM acc ORDER BY grp_a, grp_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q288 — Holt-Winters additive seasonal backtest (X127,
    // TimeSeries.holtWintersBacktest): the full ETS(A,A,A) member over
    // per-type daily volumes re-indexed to consecutive periods, m = 7,
    // α = 0.3, β = 0.1, γ = 0.2 — warm-up ℓ = floored 7-day mean,
    // b = 0, s_i = y_i − ℓ, then three coupled floored recurrences.
    // The oracle replays the whole trajectory with one recursive CTE
    // carrying the 7-slot seasonal ring as a LIST column (the new
    // level computed once in a derived table, rotate-append per step).
    Q("q288_holt_winters",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        val idx = daily.withColumn("p0", row_number().over(w))
        graft.ops.TimeSeries.holtWintersBacktest(idx, col("event_type"),
            col("p0"), col("y"), m = 7, alphaMicro = 300000L,
            betaMicro = 100000L, gammaMicro = 200000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, y,
             |    row_number() OVER (PARTITION BY g ORDER BY day) AS rn
             |  FROM d),
             |warm AS (SELECT g, CAST(sum(y) // 7 AS BIGINT) AS l0,
             |    list(CAST(y AS BIGINT) ORDER BY rn) AS ys
             |  FROM sp WHERE rn <= 7 GROUP BY g HAVING count(*) = 7),
             |tr AS (
             |  SELECT g, CAST(7 AS BIGINT) AS rn, l0 AS l,
             |    CAST(0 AS BIGINT) AS b,
             |    list_transform(ys, y -> CAST(y - l0 AS BIGINT)) AS sl
             |  FROM warm
             |  UNION ALL
             |  SELECT g, rn, l2,
             |    CAST((100000::HUGEINT * (l2 - l1) + 900000::HUGEINT * b1)
             |      // 1000000 AS BIGINT),
             |    list_append(sl1[2:],
             |      CAST((200000::HUGEINT * (y - l2) + 800000::HUGEINT * s1)
             |        // 1000000 AS BIGINT))
             |  FROM (
             |    SELECT sp.g, sp.rn, sp.y, tr.l AS l1, tr.b AS b1,
             |      tr.sl AS sl1, tr.sl[1] AS s1,
             |      CAST((300000::HUGEINT * (sp.y - tr.sl[1]) +
             |        700000::HUGEINT * (tr.l + tr.b)) // 1000000
             |        AS BIGINT) AS l2
             |    FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1))
             |SELECT sp.g AS grp, sp.rn AS p, CAST(sp.y AS BIGINT) AS y_micro,
             |  CASE WHEN sp.rn > 7 THEN
             |    CAST(pv.l + pv.b + pv.sl[1] AS BIGINT) END AS forecast_micro,
             |  CASE WHEN sp.rn > 7 THEN
             |    CAST(sp.y - (pv.l + pv.b + pv.sl[1]) AS BIGINT)
             |    END AS err_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.l END AS level_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.b END AS trend_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.sl[7] END AS season_micro
             |FROM sp
             |LEFT JOIN tr pv ON pv.g = sp.g AND pv.rn = sp.rn - 1
             |LEFT JOIN tr cur ON cur.g = sp.g AND cur.rn = sp.rn
             |ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q289 — Fellegi-Sunter probabilistic record linkage (X128,
    // RecordLinkage.fsScore): a perturbed duplicate of every customer
    // lands beside the original, pairs block on (nation, custkey mod
    // 10), and four comparison fields (name / phone / segment /
    // balance-cents) earn Laplace-smoothed m/u micro rates from the
    // construction labels. Weights are the stated one-float chain
    // round(1e6·ln(m/u)/ln 2); scores are exact integer sums. The
    // output groups pairs by (is_match, score) so ANY weight or count
    // drift breaks the hash. The oracle replays counts, both smoothed
    // rates, all eight weights, and every score.
    Q("q289_fellegi_sunter",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          (col("c_acctbal") * 100).cast("long").as("c_cents"),
          col("c_nationkey"))
        val dup = c.select((col("c_custkey") + 1000000L).as("d_custkey"),
          when(pmod(col("c_custkey"), lit(2)) === 1,
            concat(col("c_name"), lit("x")))
            .otherwise(col("c_name")).as("d_name"),
          when(pmod(col("c_custkey"), lit(3)) === 0, lit("OTHER"))
            .otherwise(col("c_mktsegment")).as("d_mktsegment"),
          (col("c_cents") + when(pmod(col("c_custkey"), lit(5)) === 0,
            50000L).otherwise(0L)).as("d_cents"),
          col("c_nationkey").as("d_nationkey"),
          pmod(col("c_custkey"), lit(10)).as("d_blk"))
        val pairs = c.join(dup,
          col("c_nationkey") === col("d_nationkey") &&
            pmod(col("c_custkey"), lit(10)) === col("d_blk"))
        val fields = Seq(
          "name" -> (col("c_name") === col("d_name")),
          "balsign" -> ((col("c_cents") >= 0) === (col("d_cents") >= 0)),
          "segment" -> (col("c_mktsegment") === col("d_mktsegment")),
          "balance" -> (col("c_cents") === col("d_cents")))
        val isM = col("d_custkey") === col("c_custkey") + 1000000L
        graft.ops.RecordLinkage.fsScore(pairs, pairs, fields, isM)
          .groupBy(isM.as("is_match"), col("fs_score_micro"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("is_match", "fs_score_micro")
      },
      Some("""WITH c AS (SELECT c_custkey AS ck, c_name AS nm,
             |    c_mktsegment AS seg,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents,
             |    c_nationkey AS nk FROM customer),
             |d AS (SELECT ck + 1000000 AS dk,
             |    CASE WHEN ck % 2 = 1 THEN nm || 'x' ELSE nm END AS nm,
             |    CASE WHEN ck % 3 = 0 THEN 'OTHER' ELSE seg END AS seg,
             |    cents + CASE WHEN ck % 5 = 0 THEN 50000 ELSE 0 END AS cents,
             |    nk, ck % 10 AS blk, ck AS ock FROM c),
             |p AS (SELECT c.ck, d.dk,
             |    c.nm = d.nm AS a0,
             |    (c.cents >= 0) = (d.cents >= 0) AS a1,
             |    c.seg = d.seg AS a2, c.cents = d.cents AS a3,
             |    d.ock = c.ck AS m
             |  FROM c JOIN d ON c.nk = d.nk AND (c.ck % 10) = d.blk),
             |cnt AS (SELECT
             |    sum(CASE WHEN m THEN 1 ELSE 0 END) AS nmm, count(*) AS n,
             |    sum(CASE WHEN m AND a0 THEN 1 ELSE 0 END) AS am0,
             |    sum(CASE WHEN NOT m AND a0 THEN 1 ELSE 0 END) AS au0,
             |    sum(CASE WHEN m AND a1 THEN 1 ELSE 0 END) AS am1,
             |    sum(CASE WHEN NOT m AND a1 THEN 1 ELSE 0 END) AS au1,
             |    sum(CASE WHEN m AND a2 THEN 1 ELSE 0 END) AS am2,
             |    sum(CASE WHEN NOT m AND a2 THEN 1 ELSE 0 END) AS au2,
             |    sum(CASE WHEN m AND a3 THEN 1 ELSE 0 END) AS am3,
             |    sum(CASE WHEN NOT m AND a3 THEN 1 ELSE 0 END) AS au3
             |  FROM p),
             |w AS (SELECT
             |    (am0 + 1) * 1000000 // (nmm + 2) AS m0,
             |    (au0 + 1) * 1000000 // (n - nmm + 2) AS u0,
             |    (am1 + 1) * 1000000 // (nmm + 2) AS m1,
             |    (au1 + 1) * 1000000 // (n - nmm + 2) AS u1,
             |    (am2 + 1) * 1000000 // (nmm + 2) AS m2,
             |    (au2 + 1) * 1000000 // (n - nmm + 2) AS u2,
             |    (am3 + 1) * 1000000 // (nmm + 2) AS m3,
             |    (au3 + 1) * 1000000 // (n - nmm + 2) AS u3
             |  FROM cnt),
             |wz AS (SELECT
             |    CAST(round(1000000 * ln(CAST(m0 AS DOUBLE) / u0)
             |      / ln(2.0)) AS BIGINT) AS wa0,
             |    CAST(round(1000000 * ln(CAST(1000000 - m0 AS DOUBLE)
             |      / (1000000 - u0)) / ln(2.0)) AS BIGINT) AS wd0,
             |    CAST(round(1000000 * ln(CAST(m1 AS DOUBLE) / u1)
             |      / ln(2.0)) AS BIGINT) AS wa1,
             |    CAST(round(1000000 * ln(CAST(1000000 - m1 AS DOUBLE)
             |      / (1000000 - u1)) / ln(2.0)) AS BIGINT) AS wd1,
             |    CAST(round(1000000 * ln(CAST(m2 AS DOUBLE) / u2)
             |      / ln(2.0)) AS BIGINT) AS wa2,
             |    CAST(round(1000000 * ln(CAST(1000000 - m2 AS DOUBLE)
             |      / (1000000 - u2)) / ln(2.0)) AS BIGINT) AS wd2,
             |    CAST(round(1000000 * ln(CAST(m3 AS DOUBLE) / u3)
             |      / ln(2.0)) AS BIGINT) AS wa3,
             |    CAST(round(1000000 * ln(CAST(1000000 - m3 AS DOUBLE)
             |      / (1000000 - u3)) / ln(2.0)) AS BIGINT) AS wd3
             |  FROM w)
             |SELECT p.m AS is_match,
             |  (CASE WHEN a0 THEN wa0 ELSE wd0 END +
             |   CASE WHEN a1 THEN wa1 ELSE wd1 END +
             |   CASE WHEN a2 THEN wa2 ELSE wd2 END +
             |   CASE WHEN a3 THEN wa3 ELSE wd3 END) AS fs_score_micro,
             |  count(*) AS n_pairs
             |FROM p CROSS JOIN wz
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q290 — UNSUPERVISED Fellegi-Sunter via EM (X129,
    // RecordLinkage.fsWeightsEM): q289's pair fixture with the labels
    // thrown away — m, u, and the prevalence are estimated from the
    // 16-pattern agreement histogram by 10 fixed-point EM rounds
    // (chained floor products in the E-step, exact integer ratios with
    // [1, 999999] clamps in the M-step). The oracle replays the WHOLE
    // trajectory with a recursive CTE carrying (p, m0..m3, u0..u3) and
    // re-derives every weight through the stated ln chain.
    Q("q290_fs_em",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          (col("c_acctbal") * 100).cast("long").as("c_cents"),
          col("c_nationkey"))
        val dup = c.select((col("c_custkey") + 1000000L).as("d_custkey"),
          when(pmod(col("c_custkey"), lit(2)) === 1,
            concat(col("c_name"), lit("x")))
            .otherwise(col("c_name")).as("d_name"),
          when(pmod(col("c_custkey"), lit(3)) === 0, lit("OTHER"))
            .otherwise(col("c_mktsegment")).as("d_mktsegment"),
          (col("c_cents") + when(pmod(col("c_custkey"), lit(5)) === 0,
            50000L).otherwise(0L)).as("d_cents"),
          col("c_nationkey").as("d_nationkey"),
          pmod(col("c_custkey"), lit(10)).as("d_blk"))
        val pairs = c.join(dup,
          col("c_nationkey") === col("d_nationkey") &&
            pmod(col("c_custkey"), lit(10)) === col("d_blk"))
        val fields = Seq(
          "name" -> (col("c_name") === col("d_name")),
          "balsign" -> ((col("c_cents") >= 0) === (col("d_cents") >= 0)),
          "segment" -> (col("c_mktsegment") === col("d_mktsegment")),
          "balance" -> (col("c_cents") === col("d_cents")))
        val em = graft.ops.RecordLinkage.fsWeightsEM(pairs, fields,
          iters = 10)
        import s.implicits._
        em.weights.map { case (n, m, u, wa, wd) =>
          (n, m, u, wa, wd, em.prevalenceMicro) }
          .toDF("field", "m_micro", "u_micro", "w_agree_micro",
            "w_disagree_micro", "p_micro")
          .orderBy("field")
      },
      Some("""WITH RECURSIVE c AS (SELECT c_custkey AS ck, c_name AS nm,
             |    c_mktsegment AS seg,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents,
             |    c_nationkey AS nk FROM customer),
             |d AS (SELECT ck + 1000000 AS dk,
             |    CASE WHEN ck % 2 = 1 THEN nm || 'x' ELSE nm END AS nm,
             |    CASE WHEN ck % 3 = 0 THEN 'OTHER' ELSE seg END AS seg,
             |    cents + CASE WHEN ck % 5 = 0 THEN 50000 ELSE 0 END AS cents,
             |    nk, ck % 10 AS blk FROM c),
             |pr AS (SELECT c.nm = d.nm AS a0,
             |    (c.cents >= 0) = (d.cents >= 0) AS a1,
             |    c.seg = d.seg AS a2, c.cents = d.cents AS a3
             |  FROM c JOIN d ON c.nk = d.nk AND (c.ck % 10) = d.blk),
             |pat AS (SELECT a0, a1, a2, a3, count(*) AS n
             |  FROM pr GROUP BY 1, 2, 3, 4),
             |it AS (
             |  SELECT 0 AS t, CAST(100000 AS BIGINT) AS pp,
             |    CAST(900000 AS BIGINT) AS m0, CAST(900000 AS BIGINT) AS m1,
             |    CAST(900000 AS BIGINT) AS m2, CAST(900000 AS BIGINT) AS m3,
             |    CAST(100000 AS BIGINT) AS u0, CAST(100000 AS BIGINT) AS u1,
             |    CAST(100000 AS BIGINT) AS u2, CAST(100000 AS BIGINT) AS u3
             |  UNION ALL
             |  SELECT t + 1,
             |    greatest(1, least(999999, CAST(sum(n * w)::HUGEINT
             |      // sum(n) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g0)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g1)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g2)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g3)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g0)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g1)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g2)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g3)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT)))
             |  FROM (
             |    SELECT t, n, g0, g1, g2, g3,
             |      num * 1000000 // greatest(1, num + den) AS w
             |    FROM (
             |      SELECT it.t, pat.n,
             |        CASE WHEN pat.a0 THEN 1 ELSE 0 END AS g0,
             |        CASE WHEN pat.a1 THEN 1 ELSE 0 END AS g1,
             |        CASE WHEN pat.a2 THEN 1 ELSE 0 END AS g2,
             |        CASE WHEN pat.a3 THEN 1 ELSE 0 END AS g3,
             |        ((((it.pp
             |          * (CASE WHEN pat.a0 THEN it.m0
             |             ELSE 1000000 - it.m0 END) // 1000000)
             |          * (CASE WHEN pat.a1 THEN it.m1
             |             ELSE 1000000 - it.m1 END) // 1000000)
             |          * (CASE WHEN pat.a2 THEN it.m2
             |             ELSE 1000000 - it.m2 END) // 1000000)
             |          * (CASE WHEN pat.a3 THEN it.m3
             |             ELSE 1000000 - it.m3 END) // 1000000) AS num,
             |        (((((1000000 - it.pp)
             |          * (CASE WHEN pat.a0 THEN it.u0
             |             ELSE 1000000 - it.u0 END) // 1000000)
             |          * (CASE WHEN pat.a1 THEN it.u1
             |             ELSE 1000000 - it.u1 END) // 1000000)
             |          * (CASE WHEN pat.a2 THEN it.u2
             |             ELSE 1000000 - it.u2 END) // 1000000)
             |          * (CASE WHEN pat.a3 THEN it.u3
             |             ELSE 1000000 - it.u3 END) // 1000000) AS den
             |      FROM it, pat WHERE it.t < 10))
             |  GROUP BY t),
             |fin AS (SELECT * FROM it WHERE t = 10),
             |rows_ AS (
             |  SELECT 'name' AS field, m0 AS m, u0 AS u, pp FROM fin
             |  UNION ALL SELECT 'balsign', m1, u1, pp FROM fin
             |  UNION ALL SELECT 'segment', m2, u2, pp FROM fin
             |  UNION ALL SELECT 'balance', m3, u3, pp FROM fin)
             |SELECT field, CAST(m AS BIGINT) AS m_micro,
             |  CAST(u AS BIGINT) AS u_micro,
             |  CAST(round(1000000 * ln(CAST(m AS DOUBLE) / u)
             |    / ln(2.0)) AS BIGINT) AS w_agree_micro,
             |  CAST(round(1000000 * ln(CAST(1000000 - m AS DOUBLE)
             |    / (1000000 - u)) / ln(2.0)) AS BIGINT) AS w_disagree_micro,
             |  CAST(pp AS BIGINT) AS p_micro
             |FROM rows_ ORDER BY field""".stripMargin)),

    // ------------------------------------------------------------------
    // q291 — reciprocal best match (X130, RecordLinkage
    // .reciprocalBestMatch): q289's scored pairs resolved to ONE-TO-ONE
    // links — keep (a, b) iff each is the other's best-scoring partner
    // (ties to the smallest id; duplicate pairs collapse to max score).
    // Order-free by construction, so the oracle replays the whole rule
    // with the same two rank windows over its own weight/score replay.
    Q("q291_reciprocal_best_match",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          (col("c_acctbal") * 100).cast("long").as("c_cents"),
          col("c_nationkey"))
        val dup = c.select((col("c_custkey") + 1000000L).as("d_custkey"),
          when(pmod(col("c_custkey"), lit(2)) === 1,
            concat(col("c_name"), lit("x")))
            .otherwise(col("c_name")).as("d_name"),
          when(pmod(col("c_custkey"), lit(3)) === 0, lit("OTHER"))
            .otherwise(col("c_mktsegment")).as("d_mktsegment"),
          (col("c_cents") + when(pmod(col("c_custkey"), lit(5)) === 0,
            50000L).otherwise(0L)).as("d_cents"),
          col("c_nationkey").as("d_nationkey"),
          pmod(col("c_custkey"), lit(10)).as("d_blk"))
        val pairs = c.join(dup,
          col("c_nationkey") === col("d_nationkey") &&
            pmod(col("c_custkey"), lit(10)) === col("d_blk"))
        val fields = Seq(
          "name" -> (col("c_name") === col("d_name")),
          "balsign" -> ((col("c_cents") >= 0) === (col("d_cents") >= 0)),
          "segment" -> (col("c_mktsegment") === col("d_mktsegment")),
          "balance" -> (col("c_cents") === col("d_cents")))
        val isM = col("d_custkey") === col("c_custkey") + 1000000L
        val scored = graft.ops.RecordLinkage.fsScore(pairs, pairs, fields,
          isM)
        graft.ops.RecordLinkage.reciprocalBestMatch(scored,
            col("c_custkey"), col("d_custkey"), col("fs_score_micro"))
          .orderBy("left")
      },
      Some("""WITH c AS (SELECT c_custkey AS ck, c_name AS nm,
             |    c_mktsegment AS seg,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents,
             |    c_nationkey AS nk FROM customer),
             |d AS (SELECT ck + 1000000 AS dk,
             |    CASE WHEN ck % 2 = 1 THEN nm || 'x' ELSE nm END AS nm,
             |    CASE WHEN ck % 3 = 0 THEN 'OTHER' ELSE seg END AS seg,
             |    cents + CASE WHEN ck % 5 = 0 THEN 50000 ELSE 0 END AS cents,
             |    nk, ck % 10 AS blk, ck AS ock FROM c),
             |p AS (SELECT c.ck, d.dk,
             |    c.nm = d.nm AS a0,
             |    (c.cents >= 0) = (d.cents >= 0) AS a1,
             |    c.seg = d.seg AS a2, c.cents = d.cents AS a3,
             |    d.ock = c.ck AS m
             |  FROM c JOIN d ON c.nk = d.nk AND (c.ck % 10) = d.blk),
             |cnt AS (SELECT
             |    sum(CASE WHEN m THEN 1 ELSE 0 END) AS nmm, count(*) AS n,
             |    sum(CASE WHEN m AND a0 THEN 1 ELSE 0 END) AS am0,
             |    sum(CASE WHEN NOT m AND a0 THEN 1 ELSE 0 END) AS au0,
             |    sum(CASE WHEN m AND a1 THEN 1 ELSE 0 END) AS am1,
             |    sum(CASE WHEN NOT m AND a1 THEN 1 ELSE 0 END) AS au1,
             |    sum(CASE WHEN m AND a2 THEN 1 ELSE 0 END) AS am2,
             |    sum(CASE WHEN NOT m AND a2 THEN 1 ELSE 0 END) AS au2,
             |    sum(CASE WHEN m AND a3 THEN 1 ELSE 0 END) AS am3,
             |    sum(CASE WHEN NOT m AND a3 THEN 1 ELSE 0 END) AS au3
             |  FROM p),
             |w AS (SELECT
             |    (am0 + 1) * 1000000 // (nmm + 2) AS m0,
             |    (au0 + 1) * 1000000 // (n - nmm + 2) AS u0,
             |    (am1 + 1) * 1000000 // (nmm + 2) AS m1,
             |    (au1 + 1) * 1000000 // (n - nmm + 2) AS u1,
             |    (am2 + 1) * 1000000 // (nmm + 2) AS m2,
             |    (au2 + 1) * 1000000 // (n - nmm + 2) AS u2,
             |    (am3 + 1) * 1000000 // (nmm + 2) AS m3,
             |    (au3 + 1) * 1000000 // (n - nmm + 2) AS u3
             |  FROM cnt),
             |wz AS (SELECT
             |    CAST(round(1000000 * ln(CAST(m0 AS DOUBLE) / u0)
             |      / ln(2.0)) AS BIGINT) AS wa0,
             |    CAST(round(1000000 * ln(CAST(1000000 - m0 AS DOUBLE)
             |      / (1000000 - u0)) / ln(2.0)) AS BIGINT) AS wd0,
             |    CAST(round(1000000 * ln(CAST(m1 AS DOUBLE) / u1)
             |      / ln(2.0)) AS BIGINT) AS wa1,
             |    CAST(round(1000000 * ln(CAST(1000000 - m1 AS DOUBLE)
             |      / (1000000 - u1)) / ln(2.0)) AS BIGINT) AS wd1,
             |    CAST(round(1000000 * ln(CAST(m2 AS DOUBLE) / u2)
             |      / ln(2.0)) AS BIGINT) AS wa2,
             |    CAST(round(1000000 * ln(CAST(1000000 - m2 AS DOUBLE)
             |      / (1000000 - u2)) / ln(2.0)) AS BIGINT) AS wd2,
             |    CAST(round(1000000 * ln(CAST(m3 AS DOUBLE) / u3)
             |      / ln(2.0)) AS BIGINT) AS wa3,
             |    CAST(round(1000000 * ln(CAST(1000000 - m3 AS DOUBLE)
             |      / (1000000 - u3)) / ln(2.0)) AS BIGINT) AS wd3
             |  FROM w),
             |sc AS (SELECT ck AS l, dk AS r,
             |    (CASE WHEN a0 THEN wa0 ELSE wd0 END +
             |     CASE WHEN a1 THEN wa1 ELSE wd1 END +
             |     CASE WHEN a2 THEN wa2 ELSE wd2 END +
             |     CASE WHEN a3 THEN wa3 ELSE wd3 END) AS s
             |  FROM p CROSS JOIN wz),
             |col_ AS (SELECT l, r, max(s) AS s FROM sc GROUP BY l, r),
             |rk AS (SELECT l, r, s,
             |    row_number() OVER (PARTITION BY l ORDER BY s DESC, r) AS rl,
             |    row_number() OVER (PARTITION BY r ORDER BY s DESC, l) AS rr
             |  FROM col_)
             |SELECT l AS "left", r AS "right", CAST(s AS BIGINT) AS score
             |FROM rk WHERE rl = 1 AND rr = 1 ORDER BY l""".stripMargin)),

    // ------------------------------------------------------------------
    // q292 — Benjamini-Hochberg FDR screen (X131, Ops.bhAdjust):
    // per-nation hypothesis families with md5-deterministic p-values
    // (every 20th customer seeded as a strong signal), step-up rule in
    // exact integer cross-products, tied p sharing the tie group's max
    // rank. The oracle replays the hash chain, both windows, and every
    // cross-multiplied threshold; the internal row numbering cancels
    // out by construction (only the pass SET feeds k*), so engine
    // tie-break freedom cannot move the hash.
    Q("q292_bh_fdr",
      (s, dir) => {
        val hyp = t(s, dir, "customer").select(col("c_custkey"),
            col("c_nationkey"),
            (conv(substring(md5(concat(lit("bh292:"), col("c_custkey"))),
              1, 15), 16, 10).cast("long") % 1000001L).as("praw"))
          .withColumn("p_micro",
            when(pmod(col("c_custkey"), lit(20)) === 0,
              col("praw") % 3000L).otherwise(col("praw")))
        graft.ops.Ops.bhAdjust(hyp, Seq("c_nationkey"), col("p_micro"),
            alphaMicro = 200000L)
          .select("c_custkey", "c_nationkey", "p_micro", "bh_rank",
            "m_tests", "rejected")
          .orderBy("c_custkey")
      },
      Some("""WITH h AS (SELECT c_custkey AS ck, c_nationkey AS nk,
             |    ('0x' || substr(md5('bh292:' ||
             |      CAST(c_custkey AS VARCHAR)), 1, 15))::UBIGINT
             |      % 1000001 AS praw
             |  FROM customer),
             |hp AS (SELECT ck, nk,
             |    CASE WHEN ck % 20 = 0 THEN praw % 3000 ELSE praw END AS p
             |  FROM h),
             |rk AS (SELECT ck, nk, p,
             |    row_number() OVER (PARTITION BY nk ORDER BY p) AS j,
             |    count(*) OVER (PARTITION BY nk ORDER BY p
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS bh_rank,
             |    count(*) OVER (PARTITION BY nk) AS m
             |  FROM hp),
             |ks AS (SELECT nk,
             |    max(CASE WHEN p * m <= j * 200000 THEN j END) AS kstar
             |  FROM rk GROUP BY nk)
             |SELECT rk.ck AS c_custkey, rk.nk AS c_nationkey,
             |  CAST(rk.p AS BIGINT) AS p_micro,
             |  CAST(rk.bh_rank AS BIGINT) AS bh_rank,
             |  CAST(rk.m AS BIGINT) AS m_tests,
             |  coalesce(rk.bh_rank <= ks.kstar, false) AS rejected
             |FROM rk LEFT JOIN ks ON ks.nk = rk.nk
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q293 — Kruskal-Wallis K-sample rank test (X132,
    // RankStats.kruskalWallis): do the five market segments draw
    // account balances from the same distribution, per nation? —
    // q279's KS fixture widened to ALL segments, the proper K-sample
    // statistic. Doubled midranks, per-group floored rank-sum squares,
    // exact tie term; the oracle replays the collapse, both RANGE
    // windows, every floor, and the one stated double chain.
    Q("q293_kruskal_wallis",
      (s, dir) => {
        val n = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
        graft.ops.RankStats.kruskalWallis(
            t(s, dir, "customer").join(broadcast(n), "c_nationkey"),
            Seq("n_name"), (col("c_acctbal") * 100).cast("long"),
            col("c_mktsegment"))
          .orderBy("n_name")
      },
      Some("""WITH b AS (SELECT n_name,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS v,
             |    c_mktsegment AS g
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |cells AS (SELECT n_name, v, g, count(*) AS cg
             |  FROM b GROUP BY 1, 2, 3),
             |rk AS (SELECT n_name, v, g, cg,
             |    coalesce(sum(cg) OVER (PARTITION BY n_name ORDER BY v
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS bef,
             |    sum(cg) OVER (PARTITION BY n_name ORDER BY v
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS cv
             |  FROM cells),
             |pg AS (SELECT n_name, g, sum(cg) AS ng,
             |    sum(cg::HUGEINT * (2 * bef + cv + 1)) AS s2
             |  FROM rk GROUP BY 1, 2),
             |pf AS (SELECT n_name, count(*) AS k_groups,
             |    sum(ng) AS n_total, sum((s2 * s2) // ng) AS a
             |  FROM pg GROUP BY 1),
             |tie AS (SELECT n_name, sum(t * t * t - t) AS tt FROM
             |    (SELECT n_name, v, sum(cg)::HUGEINT AS t
             |     FROM cells GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT pf.n_name, CAST(k_groups AS BIGINT) AS k_groups,
             |  CAST(n_total AS BIGINT) AS n_total,
             |  CASE WHEN k_groups >= 2 AND CAST(tt AS DOUBLE) <
             |      CAST(n_total::HUGEINT * n_total * n_total - n_total
             |        AS DOUBLE) THEN
             |    CAST(round((3.0 * CAST(a AS DOUBLE)
             |        / (CAST(n_total AS DOUBLE) * (n_total + 1))
             |       - 3.0 * (n_total + 1))
             |      / (1.0 - CAST(tt AS DOUBLE) /
             |         CAST(n_total::HUGEINT * n_total * n_total - n_total
             |           AS DOUBLE))
             |      * 1000000) AS BIGINT) END AS h_micro
             |FROM pf JOIN tie USING (n_name) ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q294 — MMR diversity re-ranking (X133, Similarity.mmrRerank): two
    // query vectors each re-rank a 60-candidate retrieval set to a
    // diverse top-8 at λ = 0.6 — greedy argmax of λ·rel − (1−λ)·maxSim
    // in exact micros, cosine micros through the q31 parity chain, ties
    // to the smallest id. The oracle replays the ENTIRE greedy
    // trajectory with a recursive CTE carrying the selected-id list —
    // any tie-break, rounding, or step slip breaks the hash.
    Q("q294_mmr_rerank",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isin(1L, 2L))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val cands = emb.filter(col("vec_id") >= 100 && col("vec_id") < 160)
        val scored = cands.crossJoin(broadcast(queries))
          .select(col("qid"), col("vec_id"), col("embedding"),
            round(lit(1000000d) *
              graft.functions.GraftFunctions.cosineSim(
                col("embedding").cast("array<double>"),
                col("qv").cast("array<double>")))
              .cast("long").as("rel_micro"))
        graft.sim.Similarity.mmrRerank(scored, Seq("qid"), col("vec_id"),
            col("rel_micro"), col("embedding"), k = 8,
            lambdaMicro = 600000L)
          .orderBy("qid", "rank")
      },
      Some("""WITH RECURSIVE q AS (SELECT vec_id AS qid,
             |    embedding::DOUBLE[] AS qv FROM embeddings
             |  WHERE vec_id IN (1, 2)),
             |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
             |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 160),
             |cand AS (SELECT qid, cid, cv,
             |    CAST(round(1000000 * (list_dot_product(qv, cv) /
             |      (sqrt(list_dot_product(qv, qv)) *
             |       sqrt(list_dot_product(cv, cv))))) AS BIGINT) AS rel
             |  FROM q CROSS JOIN c),
             |sims AS (SELECT a.qid, a.cid AS ida, b.cid AS idb,
             |    CAST(round(1000000 * (list_dot_product(a.cv, b.cv) /
             |      (sqrt(list_dot_product(a.cv, a.cv)) *
             |       sqrt(list_dot_product(b.cv, b.cv))))) AS BIGINT) AS sim
             |  FROM cand a JOIN cand b
             |    ON a.qid = b.qid AND a.cid <> b.cid),
             |sel AS (
             |  SELECT qid, 1 AS rnk, cid, rel,
             |    CAST((600000 * rel) // 1000000 AS BIGINT) AS score,
             |    [cid] AS chosen
             |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
             |      ORDER BY (600000 * rel) // 1000000 DESC, cid) AS rn
             |    FROM cand)
             |  WHERE rn = 1
             |  UNION ALL
             |  SELECT qid, rnk + 1, cid, rel, score,
             |    list_append(chosen, cid)
             |  FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid
             |        ORDER BY score DESC, cid) AS rn
             |    FROM (
             |      SELECT s.qid, s.rnk, s.chosen, cc.cid, cc.rel,
             |        CAST((600000 * cc.rel - 400000 * coalesce(
             |          (SELECT max(m.sim) FROM sims m
             |           WHERE m.qid = s.qid AND m.ida = cc.cid
             |             AND list_contains(s.chosen, m.idb)), 0))
             |          // 1000000 AS BIGINT) AS score
             |      FROM sel s JOIN cand cc ON cc.qid = s.qid
             |        AND NOT list_contains(s.chosen, cc.cid)
             |      WHERE s.rnk < 8))
             |  WHERE rn = 1)
             |SELECT qid, cid AS id, CAST(rnk AS BIGINT) AS rank,
             |  rel AS rel_micro, CAST(score AS BIGINT) AS score_micro
             |FROM sel ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q295 — UNSUPERVISED entity-resolution pipeline, end to end
    // (X129 → X128 → X130): blocked candidate pairs → EM-learned
    // weights with NO labels → map-only scoring → reciprocal-best-match
    // one-to-one links → precision/recall against the construction
    // truth. The e2e number is the headline ("unsupervised linkage
    // recovers the planted duplicates at P/R = …") and the oracle
    // replays EVERY stage: the EM trajectory, all eight weights, every
    // score, both rank windows, and the exact P/R micros.
    Q("q295_er_pipeline_e2e",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          (col("c_acctbal") * 100).cast("long").as("c_cents"),
          col("c_nationkey"))
        val dup = c.select((col("c_custkey") + 1000000L).as("d_custkey"),
          when(pmod(col("c_custkey"), lit(2)) === 1,
            concat(col("c_name"), lit("x")))
            .otherwise(col("c_name")).as("d_name"),
          when(pmod(col("c_custkey"), lit(3)) === 0, lit("OTHER"))
            .otherwise(col("c_mktsegment")).as("d_mktsegment"),
          (col("c_cents") + when(pmod(col("c_custkey"), lit(5)) === 0,
            50000L).otherwise(0L)).as("d_cents"),
          col("c_nationkey").as("d_nationkey"),
          pmod(col("c_custkey"), lit(10)).as("d_blk"))
        val pairs = c.join(dup,
          col("c_nationkey") === col("d_nationkey") &&
            pmod(col("c_custkey"), lit(10)) === col("d_blk"))
        val fields = Seq(
          "name" -> (col("c_name") === col("d_name")),
          "balsign" -> ((col("c_cents") >= 0) === (col("d_cents") >= 0)),
          "segment" -> (col("c_mktsegment") === col("d_mktsegment")),
          "balance" -> (col("c_cents") === col("d_cents")))
        val em = graft.ops.RecordLinkage.fsWeightsEM(pairs, fields,
          iters = 10)
        val scored = graft.ops.RecordLinkage.fsScoreWith(pairs, fields,
          em.weights)
        val links = graft.ops.RecordLinkage.reciprocalBestMatch(scored,
          col("c_custkey"), col("d_custkey"), col("fs_score_micro"))
        val truth = c.agg(count(lit(1)).as("n_truth"))
        links.agg(count(lit(1)).as("n_links"),
            sum(when(col("right") === col("left") + 1000000L, 1L)
              .otherwise(0L)).as("true_links"))
          .crossJoin(broadcast(truth))
          .select(col("n_links"), col("true_links"), col("n_truth"),
            expr("CASE WHEN n_links > 0 THEN " +
              "true_links * 1000000 DIV n_links END").as("precision_micro"),
            expr("true_links * 1000000 DIV n_truth").as("recall_micro"))
      },
      Some("""WITH RECURSIVE c AS (SELECT c_custkey AS ck, c_name AS nm,
             |    c_mktsegment AS seg,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents,
             |    c_nationkey AS nk FROM customer),
             |d AS (SELECT ck + 1000000 AS dk,
             |    CASE WHEN ck % 2 = 1 THEN nm || 'x' ELSE nm END AS nm,
             |    CASE WHEN ck % 3 = 0 THEN 'OTHER' ELSE seg END AS seg,
             |    cents + CASE WHEN ck % 5 = 0 THEN 50000 ELSE 0 END AS cents,
             |    nk, ck % 10 AS blk FROM c),
             |p AS (SELECT c.ck, d.dk,
             |    c.nm = d.nm AS a0,
             |    (c.cents >= 0) = (d.cents >= 0) AS a1,
             |    c.seg = d.seg AS a2, c.cents = d.cents AS a3
             |  FROM c JOIN d ON c.nk = d.nk AND (c.ck % 10) = d.blk),
             |pat AS (SELECT a0, a1, a2, a3, count(*) AS n
             |  FROM p GROUP BY 1, 2, 3, 4),
             |it AS (
             |  SELECT 0 AS t, CAST(100000 AS BIGINT) AS pp,
             |    CAST(900000 AS BIGINT) AS m0, CAST(900000 AS BIGINT) AS m1,
             |    CAST(900000 AS BIGINT) AS m2, CAST(900000 AS BIGINT) AS m3,
             |    CAST(100000 AS BIGINT) AS u0, CAST(100000 AS BIGINT) AS u1,
             |    CAST(100000 AS BIGINT) AS u2, CAST(100000 AS BIGINT) AS u3
             |  UNION ALL
             |  SELECT t + 1,
             |    greatest(1, least(999999, CAST(sum(n * w)::HUGEINT
             |      // sum(n) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g0)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g1)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g2)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999, CAST(sum(n * w * g3)::HUGEINT
             |      * 1000000 // greatest(1, sum(n * w)) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g0)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g1)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g2)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT))),
             |    greatest(1, least(999999,
             |      CAST(sum(n * (1000000 - w) * g3)::HUGEINT * 1000000
             |      // greatest(1, sum(n * (1000000 - w))) AS BIGINT)))
             |  FROM (
             |    SELECT t, n, g0, g1, g2, g3,
             |      num * 1000000 // greatest(1, num + den) AS w
             |    FROM (
             |      SELECT it.t, pat.n,
             |        CASE WHEN pat.a0 THEN 1 ELSE 0 END AS g0,
             |        CASE WHEN pat.a1 THEN 1 ELSE 0 END AS g1,
             |        CASE WHEN pat.a2 THEN 1 ELSE 0 END AS g2,
             |        CASE WHEN pat.a3 THEN 1 ELSE 0 END AS g3,
             |        ((((it.pp
             |          * (CASE WHEN pat.a0 THEN it.m0
             |             ELSE 1000000 - it.m0 END) // 1000000)
             |          * (CASE WHEN pat.a1 THEN it.m1
             |             ELSE 1000000 - it.m1 END) // 1000000)
             |          * (CASE WHEN pat.a2 THEN it.m2
             |             ELSE 1000000 - it.m2 END) // 1000000)
             |          * (CASE WHEN pat.a3 THEN it.m3
             |             ELSE 1000000 - it.m3 END) // 1000000) AS num,
             |        (((((1000000 - it.pp)
             |          * (CASE WHEN pat.a0 THEN it.u0
             |             ELSE 1000000 - it.u0 END) // 1000000)
             |          * (CASE WHEN pat.a1 THEN it.u1
             |             ELSE 1000000 - it.u1 END) // 1000000)
             |          * (CASE WHEN pat.a2 THEN it.u2
             |             ELSE 1000000 - it.u2 END) // 1000000)
             |          * (CASE WHEN pat.a3 THEN it.u3
             |             ELSE 1000000 - it.u3 END) // 1000000) AS den
             |      FROM it, pat WHERE it.t < 10))
             |  GROUP BY t),
             |wz AS (SELECT
             |    CAST(round(1000000 * ln(CAST(m0 AS DOUBLE) / u0)
             |      / ln(2.0)) AS BIGINT) AS wa0,
             |    CAST(round(1000000 * ln(CAST(1000000 - m0 AS DOUBLE)
             |      / (1000000 - u0)) / ln(2.0)) AS BIGINT) AS wd0,
             |    CAST(round(1000000 * ln(CAST(m1 AS DOUBLE) / u1)
             |      / ln(2.0)) AS BIGINT) AS wa1,
             |    CAST(round(1000000 * ln(CAST(1000000 - m1 AS DOUBLE)
             |      / (1000000 - u1)) / ln(2.0)) AS BIGINT) AS wd1,
             |    CAST(round(1000000 * ln(CAST(m2 AS DOUBLE) / u2)
             |      / ln(2.0)) AS BIGINT) AS wa2,
             |    CAST(round(1000000 * ln(CAST(1000000 - m2 AS DOUBLE)
             |      / (1000000 - u2)) / ln(2.0)) AS BIGINT) AS wd2,
             |    CAST(round(1000000 * ln(CAST(m3 AS DOUBLE) / u3)
             |      / ln(2.0)) AS BIGINT) AS wa3,
             |    CAST(round(1000000 * ln(CAST(1000000 - m3 AS DOUBLE)
             |      / (1000000 - u3)) / ln(2.0)) AS BIGINT) AS wd3
             |  FROM it WHERE t = 10),
             |sc AS (SELECT ck AS l, dk AS r,
             |    (CASE WHEN a0 THEN wa0 ELSE wd0 END +
             |     CASE WHEN a1 THEN wa1 ELSE wd1 END +
             |     CASE WHEN a2 THEN wa2 ELSE wd2 END +
             |     CASE WHEN a3 THEN wa3 ELSE wd3 END) AS s
             |  FROM p CROSS JOIN wz),
             |col_ AS (SELECT l, r, max(s) AS s FROM sc GROUP BY l, r),
             |rk AS (SELECT l, r, s,
             |    row_number() OVER (PARTITION BY l ORDER BY s DESC, r) AS rl,
             |    row_number() OVER (PARTITION BY r ORDER BY s DESC, l) AS rr
             |  FROM col_),
             |links AS (SELECT l, r FROM rk WHERE rl = 1 AND rr = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_links,
             |  CAST(sum(CASE WHEN r = l + 1000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS true_links,
             |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_truth,
             |  CASE WHEN count(*) > 0 THEN
             |    CAST(sum(CASE WHEN r = l + 1000000 THEN 1 ELSE 0 END)
             |      ::HUGEINT * 1000000 // count(*) AS BIGINT)
             |    END AS precision_micro,
             |  CAST(sum(CASE WHEN r = l + 1000000 THEN 1 ELSE 0 END)
             |    ::HUGEINT * 1000000 //
             |    (SELECT count(*) FROM customer) AS BIGINT) AS recall_micro
             |FROM links""".stripMargin)),

    // ------------------------------------------------------------------
    // q296 — deterministic readability scores (X134,
    // TextStats.readability): Flesch reading ease + Flesch-Kincaid
    // grade per document under the STATED vowel-group syllable rule and
    // [.!?]+ sentence rule — exact floored micros over integer
    // word/sentence/syllable counts, so the whole surface replays with
    // two regexes. Zero-word docs emit NULL scores, never "hardest".
    Q("q296_readability",
      (s, dir) => {
        t(s, dir, "documents").select(col("doc_id"),
            TextStats.readability(col("text")).as("r"))
          .select(col("doc_id"), col("r.words").as("words"),
            col("r.sentences").as("sentences"),
            col("r.syllables").as("syllables"),
            col("r.flesch_micro").as("flesch_micro"),
            col("r.fk_grade_micro").as("fk_grade_micro"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $dTok AS w,
             |    greatest(1, len(regexp_extract_all(coalesce(text, ''),
             |      '[.!?]+'))) AS s
             |  FROM documents),
             |st AS (SELECT doc_id, len(w) AS words, s,
             |    list_sum(list_transform(w, x -> greatest(1,
             |      len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))) AS y
             |  FROM tk)
             |SELECT doc_id, CAST(words AS INTEGER) AS words,
             |  CAST(CASE WHEN words > 0 THEN s ELSE 0 END AS INTEGER)
             |    AS sentences,
             |  CAST(CASE WHEN words > 0 THEN y ELSE 0 END AS BIGINT)
             |    AS syllables,
             |  CASE WHEN words > 0 THEN
             |    CAST(206835000 - (1015000 * words) // s
             |      - (84600000 * y) // words AS BIGINT) END AS flesch_micro,
             |  CASE WHEN words > 0 THEN
             |    CAST((390000 * words) // s + (11800000 * y) // words
             |      - 15590000 AS BIGINT) END AS fk_grade_micro
             |FROM st ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q297 — k-core extraction (X135, Graph.kCore): the 25-core of the
    // part↔supplier bipartite graph — peel nodes with induced degree
    // < 25 until the unique fixpoint remains. The oracle replays the
    // peel as a SHRINKING recursive fixpoint (UNION dedup terminates
    // when the survivor list reproduces itself; the final core is the
    // smallest list) and re-derives every survivor's in-core degree.
    Q("q297_k_core",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        graft.ops.Graph.kCore(edges, k = 25).orderBy("id")
      },
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst
             |    FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10 FROM lineitem)
             |  WHERE src <> dst),
             |core AS (
             |  SELECT list_sort(list(DISTINCT src)) AS ns FROM e
             |  UNION
             |  SELECT coalesce(list_sort(list(n)), []) FROM (
             |    SELECT c.ns, e.src AS n
             |    FROM core c JOIN e
             |      ON list_contains(c.ns, e.src)
             |      AND list_contains(c.ns, e.dst)
             |    GROUP BY c.ns, e.src HAVING count(*) >= 25)),
             |fin AS (SELECT ns FROM core ORDER BY len(ns) LIMIT 1)
             |SELECT e.src AS id, count(*) AS degree
             |FROM e, fin
             |WHERE list_contains(fin.ns, e.src)
             |  AND list_contains(fin.ns, e.dst)
             |GROUP BY 1 ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q298 — deterministic label-propagation communities (X136,
    // Graph.labelPropagation): the customer↔nation membership stars —
    // 25 disjoint communities the synchronous closed-neighborhood
    // min-label rounds must find. The oracle replays the rounds as a
    // recursive CTE (self-votes ride as (v,v) edge rows so the label
    // frame is referenced ONCE; arg_max over c·1e12−lab encodes
    // "most frequent, ties to smallest") for a fixed 20 rounds = the
    // engine's maxIters — legal because a converged assignment is a
    // FIXPOINT, so any round count ≥ the engine's convergence round
    // reproduces it bit for bit; pinning the replay at maxIters itself
    // (not some smaller measured round) keeps the argument
    // unconditional under any future fixture/seed change.
    Q("q298_label_propagation",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val edges = cust.select((col("c_custkey") * 10).as("src"),
          (col("c_nationkey") * 10 + 1).as("dst"))
        graft.ops.Graph.labelPropagation(edges, maxIters = 20)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE m AS (SELECT DISTINCT src, dst FROM (
             |    SELECT c_custkey * 10 AS src, c_nationkey * 10 + 1 AS dst
             |    FROM customer
             |    UNION ALL
             |    SELECT c_nationkey * 10 + 1, c_custkey * 10 FROM customer)
             |  WHERE src <> dst),
             |n AS (SELECT DISTINCT src AS id FROM m),
             |e AS (SELECT src, dst FROM m
             |  UNION ALL SELECT id, id FROM n),
             |lp AS (
             |  SELECT 0 AS it, id, CAST(id AS BIGINT) AS lab FROM n
             |  UNION ALL
             |  SELECT it + 1, src AS id,
             |    arg_max(lab, c::HUGEINT * 1000000000000 - lab) AS lab
             |  FROM (SELECT lp.it AS it, e.src AS src, lp.lab AS lab,
             |          count(*) AS c
             |        FROM lp JOIN e ON e.dst = lp.id
             |        WHERE lp.it < 20
             |        GROUP BY 1, 2, 3)
             |  GROUP BY 1, 2)
             |SELECT CAST(id AS BIGINT) AS id, lab AS label
             |FROM lp WHERE it = 20 ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q299 — batch path reconstruction (X137, Graph.walkPaths): the
    // q286 predecessor tree queried for a target FRAME — every
    // low-key supplier node, one absent id, AND every capped-prefix
    // node (dist > 0, NULL parent — the 3-leg cap's unprovable
    // predecessors, 371 of them at sf0.01) — each route assembled by
    // the iterative self-join and emitted as a '->'-joined string.
    // The oracle re-derives the tree exactly as q286's does, then walks
    // parents per target in a recursive CTE and keeps each target's
    // LONGEST route (the terminal row of a single chain); the absent
    // target must surface as (0, NULL) and each capped target as its
    // one-node partial suffix — a total report.
    Q("q299_walk_paths",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
            (col("l_suppkey") * 10 + 1).as("dst"),
            col("l_quantity").cast("long").as("w"))
          .unionAll(li.select((col("l_suppkey") * 10 + 1).as("src"),
            (col("l_partkey") * 10).as("dst"),
            col("l_quantity").cast("long").as("w")))
        val sources = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        // the tree feeds THREE consumers (the capped-target probe, the
        // walk's persisted copy, nothing else re-derives it) and its
        // withParents post-pass is edge-sized — materialize once so the
        // walk stays node-sized work (the q141 boundary discipline)
        val tree = graft.ops.Graph.ssspPaths(edges, sources, maxIters = 3)
          .localCheckpoint()
        val targets = t(s, dir, "supplier")
          .filter(col("s_suppkey") <= 20)
          .select((col("s_suppkey") * 10 + 1).cast("long").as("id"))
          .unionAll(s.range(1).select(lit(999999999L).as("id")))
          .unionAll(tree.filter(col("dist") > 0 && col("parent").isNull)
            .select(col("id")))
        graft.ops.Graph.walkPaths(tree, targets, maxHops = 10)
          .orderBy("target")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT src, dst, min(w) AS w FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst,
             |      CAST(l_quantity AS BIGINT) AS w FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10,
             |      CAST(l_quantity AS BIGINT) FROM lineitem)
             |  GROUP BY src, dst),
             |s AS (SELECT p_partkey * 10 AS id FROM part
             |      WHERE p_partkey <= 5),
             |r AS (SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS k FROM s
             |  UNION
             |  SELECT e.dst AS id, r.dist + e.w AS dist, r.k + 1 AS k
             |  FROM r JOIN e ON e.src = r.id WHERE r.k < 3),
             |d AS (SELECT id, CAST(min(dist) AS BIGINT) AS dist
             |  FROM r GROUP BY id),
             |par AS (SELECT e.dst AS id, min(e.src) AS parent
             |  FROM e
             |  JOIN d ds ON ds.id = e.src
             |  JOIN d dd ON dd.id = e.dst
             |  WHERE dd.dist > 0 AND ds.dist + e.w = dd.dist
             |  GROUP BY e.dst),
             |tg AS (SELECT DISTINCT id FROM (
             |    SELECT s_suppkey * 10 + 1 AS id FROM supplier
             |    WHERE s_suppkey <= 20
             |  UNION ALL SELECT 999999999
             |  UNION ALL
             |    SELECT d.id FROM d LEFT JOIN par ON par.id = d.id
             |    WHERE d.dist > 0 AND par.parent IS NULL)),
             |w AS (
             |  SELECT tg.id AS target, CAST(tg.id AS BIGINT) AS cur,
             |    [CAST(tg.id AS BIGINT)] AS route
             |  FROM tg JOIN d ON d.id = tg.id
             |  UNION ALL
             |  SELECT w.target, CAST(p.parent AS BIGINT),
             |    list_prepend(CAST(p.parent AS BIGINT), w.route)
             |  FROM w JOIN par p ON p.id = w.cur
             |  WHERE p.parent IS NOT NULL),
             |best AS (SELECT target, arg_max(route, len(route)) AS route
             |  FROM w GROUP BY target)
             |SELECT CAST(tg.id AS BIGINT) AS target,
             |  CAST(coalesce(len(b.route), 0) AS BIGINT) AS route_len,
             |  CASE WHEN b.route IS NOT NULL
             |    THEN array_to_string(b.route, '->') END AS route
             |FROM tg LEFT JOIN best b ON b.target = tg.id
             |ORDER BY target""".stripMargin)),

    // ------------------------------------------------------------------
    // q300 — omnibus K-sample log-rank (X138, Survival.logRankOmnibus):
    // three user-id cohorts on the churn clock, ONE χ²₂ instead of
    // q287's three Bonferroni pairs. The oracle re-sums every O/E term
    // and all four covariance cells of the first two groups as floored
    // HUGEINT integers from the pooled risk walk, then replays the
    // stated 2×2 elimination chain (natural pivot order, each double op
    // in the operator's exact sequence).
    Q("q300_log_rank_omnibus",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"))
          .select(
            concat(lit("c"), pmod(col("user_id"), lit(3))).as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.logRankOmnibus(subjects, col("grp0"),
            col("dur"), col("churned"))
          .orderBy("grp")
      },
      Some("""WITH e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS grp,
             |    (max(us) - min(us)) // 86400000000 AS t,
             |    max(us) < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM e GROUP BY user_id),
             |gt AS (SELECT grp, t, sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d,
             |    count(*) AS al FROM per GROUP BY 1, 2),
             |tot AS (SELECT grp, sum(al) AS na FROM gt GROUP BY 1),
             |r AS (SELECT g.t, tg.grp,
             |    tg.na - coalesce((SELECT sum(al) FROM gt x
             |      WHERE x.grp = tg.grp AND x.t < g.t), 0) AS n,
             |    coalesce((SELECT d FROM gt x
             |      WHERE x.grp = tg.grp AND x.t = g.t), 0) AS d
             |  FROM (SELECT DISTINCT t FROM gt) g CROSS JOIN tot tg),
             |pool AS (SELECT t,
             |    max(CASE WHEN grp = 'c0' THEN n END) AS n0,
             |    max(CASE WHEN grp = 'c1' THEN n END) AS n1,
             |    max(CASE WHEN grp = 'c2' THEN n END) AS n2,
             |    max(CASE WHEN grp = 'c0' THEN d END) AS d0,
             |    max(CASE WHEN grp = 'c1' THEN d END) AS d1,
             |    max(CASE WHEN grp = 'c2' THEN d END) AS d2
             |  FROM r GROUP BY t),
             |pl AS (SELECT t, n0, n1, n2, d0, d1, d2,
             |    d0 + d1 + d2 AS d, n0 + n1 + n2 AS n FROM pool),
             |acc AS (SELECT
             |    sum(d0) AS o0, sum(d1) AS o1, sum(d2) AS o2,
             |    sum(CASE WHEN d > 0 THEN
             |      d::HUGEINT * n0 * 1000000 // n ELSE 0 END) AS e0,
             |    sum(CASE WHEN d > 0 THEN
             |      d::HUGEINT * n1 * 1000000 // n ELSE 0 END) AS e1,
             |    sum(CASE WHEN d > 0 THEN
             |      d::HUGEINT * n2 * 1000000 // n ELSE 0 END) AS e2,
             |    sum(CASE WHEN d > 0 AND n >= 2 THEN
             |      d::HUGEINT * n0 * (n - n0) * (n - d) * 1000000000
             |      // (n::HUGEINT * n * (n - 1)) ELSE 0 END) AS a00,
             |    sum(CASE WHEN d > 0 AND n >= 2 THEN
             |      -(d::HUGEINT * n0 * n1 * (n - d) * 1000000000
             |      // (n::HUGEINT * n * (n - 1))) ELSE 0 END) AS a01,
             |    sum(CASE WHEN d > 0 AND n >= 2 THEN
             |      d::HUGEINT * n1 * (n - n1) * (n - d) * 1000000000
             |      // (n::HUGEINT * n * (n - 1)) ELSE 0 END) AS a11
             |  FROM pl),
             |chain AS (SELECT o0, o1, o2, e0, e1, e2,
             |    CAST(o0 * 1000000 - e0 AS DOUBLE) / 1000000.0 AS u0,
             |    CAST(o1 * 1000000 - e1 AS DOUBLE) / 1000000.0 AS u1,
             |    CAST(a00 AS DOUBLE) / 1000000000.0 AS b00,
             |    CAST(a01 AS DOUBLE) / 1000000000.0 AS b01,
             |    CAST(a11 AS DOUBLE) / 1000000000.0 AS b11
             |  FROM acc),
             |sol AS (SELECT *,
             |    CASE WHEN b00 <> 0.0
             |      AND (b11 - (b01 / b00) * b01) <> 0.0 THEN
             |      CAST(round((u0 * ((u0 - b01 *
             |          ((u1 - (b01 / b00) * u0)
             |           / (b11 - (b01 / b00) * b01))) / b00)
             |        + u1 * ((u1 - (b01 / b00) * u0)
             |           / (b11 - (b01 / b00) * b01))) * 1000000.0)
             |        AS BIGINT) END AS chi2
             |  FROM chain)
             |SELECT g.grp,
             |  CAST(tot.na AS BIGINT) AS n,
             |  CAST(CASE g.grp WHEN 'c0' THEN o0 WHEN 'c1' THEN o1
             |    ELSE o2 END AS BIGINT) AS o,
             |  CAST(CASE g.grp WHEN 'c0' THEN e0 WHEN 'c1' THEN e1
             |    ELSE e2 END AS BIGINT) AS e_micro,
             |  CAST(3 AS BIGINT) AS k_groups, CAST(2 AS BIGINT) AS df,
             |  sol.chi2 AS chi2_micro
             |FROM (VALUES ('c0'), ('c1'), ('c2')) g(grp)
             |JOIN tot ON tot.grp = g.grp
             |CROSS JOIN sol
             |ORDER BY g.grp""".stripMargin)),

    // ------------------------------------------------------------------
    // q301 — damped-trend forecast backtest (X139,
    // TimeSeries.dampedHoltBacktest): q285's daily series under
    // Gardner-McKenzie damping (α = .3, β = .1, φ = .6) — the φb term
    // truncates ONCE per step and that same value feeds forecast, level
    // and trend, which is exactly how the oracle's recursive CTE
    // substitutes it (three textual copies of ONE floored expression).
    Q("q301_damped_holt",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.dampedHoltBacktest(daily, col("event_type"),
            col("day"), col("y"), alphaMicro = 300000L,
            betaMicro = 100000L, phiMicro = 600000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM d),
             |tr AS (SELECT g, p, y, rn, CAST(NULL AS BIGINT) AS f,
             |    CAST(y AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.p, sp.y, sp.rn,
             |    CAST(tr.l + (600000::HUGEINT * tr.b) // 1000000
             |      AS BIGINT),
             |    CAST((300000::HUGEINT * sp.y + 700000::HUGEINT *
             |      (tr.l + (600000::HUGEINT * tr.b) // 1000000))
             |      // 1000000 AS BIGINT),
             |    CAST((100000::HUGEINT *
             |      (CAST((300000::HUGEINT * sp.y + 700000::HUGEINT *
             |        (tr.l + (600000::HUGEINT * tr.b) // 1000000))
             |        // 1000000 AS BIGINT) - tr.l) +
             |      900000::HUGEINT *
             |        ((600000::HUGEINT * tr.b) // 1000000))
             |      // 1000000 AS BIGINT)
             |  FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  f AS forecast_micro, CAST(y - f AS BIGINT) AS err_micro,
             |  l AS level_micro, b AS trend_micro
             |FROM tr ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q302 — Nelson-Aalen cumulative hazard (X140, Survival.nelsonAalen):
    // q276's first-touch cohorts on the churn clock, published as the
    // OTHER canonical estimator — H = Σ d/n with the Aalen variance
    // Σ d/n². Both accumulators are RUNNING SUMS of per-step floored
    // integers (micro / pico), so the oracle replays them with two
    // windowed sums — no recursion — plus the one stated band chain
    // (sqrt → multiply → round, lower bound clamped at 0).
    Q("q302_nelson_aalen",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"),
            min(struct(col("us"), col("event_id"), col("event_type")))
              .as("__f"))
          .select(col("__f").getField("event_type").as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        graft.ops.Survival.nelsonAalen(subjects, col("grp0"), col("dur"),
            col("churned"))
          .orderBy("grp", "t")
      },
      Some("""WITH e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             |    event_type
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per0 AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS rn,
             |    min(us) OVER (PARTITION BY user_id) AS fus,
             |    max(us) OVER (PARTITION BY user_id) AS lus
             |  FROM e),
             |per AS (SELECT event_type AS grp,
             |    (lus - fus) // 86400000000 AS t,
             |    lus < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM per0 WHERE rn = 1),
             |st AS (SELECT grp, t,
             |    sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS al
             |  FROM per GROUP BY 1, 2),
             |wk AS (SELECT grp, t, d,
             |    sum(al) OVER (PARTITION BY grp)
             |      - coalesce(sum(al) OVER (PARTITION BY grp ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND 1 PRECEDING), 0) AS n
             |  FROM st),
             |na AS (SELECT grp, t, n, d,
             |    sum(d * 1000000 // n)
             |      OVER (PARTITION BY grp ORDER BY t) AS h,
             |    sum(d::HUGEINT * 1000000000000 // (n::HUGEINT * n))
             |      OVER (PARTITION BY grp ORDER BY t) AS v
             |  FROM wk WHERE d > 0)
             |SELECT grp, t, CAST(n AS BIGINT) AS n_risk,
             |  CAST(d AS BIGINT) AS d_events, CAST(h AS BIGINT) AS h_micro,
             |  CAST(v AS BIGINT) AS var_pico,
             |  CAST(round(sqrt(CAST(v AS DOUBLE) / 1000000000000.0)
             |    * 1000000.0) AS BIGINT) AS se_micro,
             |  CAST(greatest(0, h - round(1.959964 *
             |    (sqrt(CAST(v AS DOUBLE) / 1000000000000.0) * 1000000.0)))
             |    AS BIGINT) AS lo_micro,
             |  CAST(h + round(1.959964 *
             |    (sqrt(CAST(v AS DOUBLE) / 1000000000000.0) * 1000000.0))
             |    AS BIGINT) AS hi_micro
             |FROM na ORDER BY grp, t""".stripMargin)),

    // ------------------------------------------------------------------
    // q303 — Croston intermittent-demand backtest (X141,
    // TimeSeries.crostonBacktest): daily "purchases by the 1-in-41 user
    // slice" per event_type — a mostly-zero series Croston exists for —
    // densified onto an explicit day spine (a zero-demand day is a ROW,
    // the operator's gap contract). The oracle rebuilds the spine with
    // generate-series, then replays the two-component fold (size z,
    // interval p, updated only at demand rows) as one recursive CTE
    // carrying (z, p, last-demand-index).
    Q("q303_croston",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull &&
            col("user_id").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"),
            col("user_id"))
        val b = ev.agg(min(col("day")), max(col("day"))).collect()(0)
        val days = s.range(b.getLong(0), b.getLong(1) + 1)
          .select(col("id").as("day"))
        val dem = ev.filter(pmod(col("user_id"), lit(41)) === 0)
          .groupBy("event_type", "day")
          .agg((count(lit(1)) * 1000000L).as("y0"))
        val dense = ev.select("event_type").distinct()
          .crossJoin(days) // bounded: |event types| × |days|, both tiny
          .join(dem, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(col("y0"), lit(0L)).as("y"))
        graft.ops.TimeSeries.crostonBacktest(dense, col("event_type"),
            col("day"), col("y"), alphaMicro = 300000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    user_id
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |    AND user_id IS NOT NULL),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
             |days AS (SELECT unnest(range((SELECT lo FROM b),
             |    (SELECT hi FROM b) + 1)) AS day),
             |dem AS (SELECT event_type, day, count(*) * 1000000 AS y0
             |  FROM e WHERE user_id % 41 = 0 GROUP BY 1, 2),
             |dense AS (SELECT ty.event_type AS g, days.day AS p,
             |    coalesce(dem.y0, 0) AS y
             |  FROM (SELECT DISTINCT event_type FROM e) ty
             |  CROSS JOIN days
             |  LEFT JOIN dem ON dem.event_type = ty.event_type
             |    AND dem.day = days.day),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM dense),
             |tr AS (
             |  SELECT g, p, y, rn, CAST(NULL AS BIGINT) AS f,
             |    CASE WHEN y > 0 THEN CAST(y AS BIGINT) END AS z,
             |    CASE WHEN y > 0 THEN CAST(rn AS BIGINT) * 1000000 END AS pi,
             |    CASE WHEN y > 0 THEN rn END AS lastnz
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.p, sp.y, sp.rn,
             |    CASE WHEN tr.z IS NOT NULL THEN
             |      CAST(tr.z::HUGEINT * 1000000 // tr.pi AS BIGINT) END,
             |    CASE WHEN tr.z IS NULL THEN
             |        (CASE WHEN sp.y > 0 THEN CAST(sp.y AS BIGINT) END)
             |      WHEN sp.y > 0 THEN
             |        CAST((300000::HUGEINT * sp.y + 700000::HUGEINT * tr.z)
             |          // 1000000 AS BIGINT)
             |      ELSE tr.z END,
             |    CASE WHEN tr.z IS NULL THEN
             |        (CASE WHEN sp.y > 0 THEN CAST(sp.rn AS BIGINT)
             |          * 1000000 END)
             |      WHEN sp.y > 0 THEN
             |        CAST((300000::HUGEINT * (sp.rn - tr.lastnz) * 1000000
             |          + 700000::HUGEINT * tr.pi) // 1000000 AS BIGINT)
             |      ELSE tr.pi END,
             |    CASE WHEN tr.z IS NULL THEN
             |        (CASE WHEN sp.y > 0 THEN sp.rn END)
             |      WHEN sp.y > 0 THEN sp.rn ELSE tr.lastnz END
             |  FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  f AS forecast_micro, z AS z_micro, pi AS p_interval_micro
             |FROM tr ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q304 — Friedman blocked rank test (X142, RankStats.friedman): per
    // customer-parity family, do the five order priorities draw
    // different spend from the SAME customer buckets? Blocks are
    // custkey buckets, treatments the priorities, cells exact summed
    // cents — the repeated-measures design where q293's KW would charge
    // treatment differences against block noise. The oracle replays the
    // complete-block filter, both within-block RANGE windows (doubled
    // midranks), the exact HUGEINT sums, and the one stated double
    // chain.
    Q("q304_friedman",
      (s, dir) => {
        val cellsDf = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
            pmod(col("o_custkey"), lit(300)).as("blk"),
            col("o_orderpriority").as("trt"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("cents"))
        graft.ops.RankStats.friedman(cellsDf, Seq("fam"), col("blk"),
            col("trt"), col("cents"))
          .orderBy("fam")
      },
      Some("""WITH cells AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    o_custkey % 300 AS blk, o_orderpriority AS trt,
             |    sum(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1, 2, 3),
             |ks AS (SELECT fam, count(DISTINCT trt) AS k
             |  FROM cells GROUP BY 1),
             |bs AS (SELECT fam, blk, count(*) AS bc FROM cells
             |  GROUP BY 1, 2),
             |comp AS (SELECT c.fam, c.blk, c.trt, c.cents
             |  FROM cells c JOIN bs ON bs.fam = c.fam AND bs.blk = c.blk
             |  JOIN ks ON ks.fam = c.fam
             |  WHERE bs.bc = ks.k),
             |rk AS (SELECT fam, blk, trt,
             |    2 * coalesce(count(*) OVER (PARTITION BY fam, blk
             |      ORDER BY cents
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    + count(*) OVER (PARTITION BY fam, blk ORDER BY cents
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS dr
             |  FROM comp),
             |pt AS (SELECT fam, trt, sum(dr::HUGEINT) AS rd
             |  FROM rk GROUP BY 1, 2),
             |pf AS (SELECT fam, count(*) AS k_treatments,
             |    sum(rd * rd) AS sd FROM pt GROUP BY 1),
             |ad AS (SELECT fam, count(DISTINCT blk) AS n_blocks,
             |    sum(dr::HUGEINT * dr) AS ad FROM rk GROUP BY 1)
             |SELECT pf.fam, CAST(k_treatments AS BIGINT) AS k_treatments,
             |  CAST(n_blocks AS BIGINT) AS n_blocks,
             |  CASE WHEN k_treatments >= 2 AND CAST(ad AS DOUBLE)
             |      - CAST(n_blocks AS DOUBLE) * k_treatments
             |        * (k_treatments + 1) * (k_treatments + 1) <> 0.0 THEN
             |    CAST(round((k_treatments - 1) *
             |      (CAST(sd AS DOUBLE) - CAST(n_blocks AS DOUBLE) * n_blocks
             |         * k_treatments * (k_treatments + 1)
             |         * (k_treatments + 1))
             |      / (CAST(ad AS DOUBLE) - CAST(n_blocks AS DOUBLE)
             |         * k_treatments * (k_treatments + 1)
             |         * (k_treatments + 1))
             |      * 1000000) AS BIGINT) END AS chi2_micro
             |FROM pf JOIN ad ON ad.fam = pf.fam
             |ORDER BY pf.fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q305 — Jaro-Winkler fuzzy match (X143, FuzzyJoin.fuzzyJoinJw +
    // functions.JaroWinkler): a dirty registry where every fourth
    // customer is re-registered under a TRANSPOSITION typo (adjacent
    // chars 7/8 of the md5 name swapped — edit distance 2, the exact
    // corruption Levenshtein mis-ranks and Jaro-Winkler is built for),
    // resolved by deletion-neighborhood blocking and verified on BOTH
    // comparators: lev ≤ 2 AND jw ≥ 0.95. The oracle brute-forces the
    // registry cross join with DuckDB's own jaro_winkler_similarity at
    // the stated micro grain (round(sim·1e6)) — the engine's codegen'd
    // byte-based comparator must agree pair for pair.
    Q("q305_jaro_winkler_match",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val nm = substring(md5(concat(lit("jw:"),
          col("c_custkey").cast("string"))), 1, 12)
        val orig = c.select(col("c_custkey").as("id"), nm.as("nm"))
        val dup = c.filter(pmod(col("c_custkey"), lit(4)) === 0)
          .select((col("c_custkey") + 10000000L).as("id"),
            concat(substring(nm, 1, 6), substring(nm, 8, 1),
              substring(nm, 7, 1), substring(nm, 9, 4)).as("nm"))
        val reg = orig.unionByName(dup)
        graft.ops.FuzzyJoin.fuzzyJoinJw(reg, "id", "nm",
            reg, "id", "nm", maxDist = 2, minJwMicro = 950000L)
          .filter(col("left_id") < col("right_id"))
          .select(col("left_id"), col("right_id"),
            col("dist").cast("long").as("dist"), col("jw_micro"))
          .orderBy("left_id", "right_id")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey,
             |    substr(md5('jw:' || CAST(c_custkey AS VARCHAR)), 1, 12) AS nm
             |  FROM customer),
             |reg AS (
             |  SELECT c_custkey AS id, nm FROM base
             |  UNION ALL
             |  SELECT c_custkey + 10000000,
             |    substr(nm, 1, 6) || substr(nm, 8, 1) || substr(nm, 7, 1)
             |      || substr(nm, 9, 4)
             |  FROM base WHERE c_custkey % 4 = 0)
             |SELECT a.id AS left_id, b.id AS right_id,
             |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
             |  CAST(round(jaro_winkler_similarity(a.nm, b.nm) * 1000000)
             |    AS BIGINT) AS jw_micro
             |FROM reg a JOIN reg b ON a.id < b.id
             |WHERE levenshtein(a.nm, b.nm) <= 2
             |  AND round(jaro_winkler_similarity(a.nm, b.nm) * 1000000)
             |        >= 950000
             |ORDER BY left_id, right_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q306 — negative-cycle detection (X144, Graph.negativeCycleWitnesses):
    // a 12-nation cost ring with two planted negative cycles (a −600
    // 3-cycle on 5→6→7 and a −50 2-cycle on 10⇄11) plus a plain negative
    // chord (2→9, no cycle) — the full Bellman-Ford budget (11 rounds)
    // then ONE witness relaxation; the improving nodes name the cycles.
    // The oracle replays the bounded rounds as a recursive CTE over the
    // edge frame plus zero-weight self-loops (carry rides the one
    // allowed CTE reference) and takes it=11 vs it=12.
    Q("q306_negative_cycles",
      (s, dir) => {
        val nodes = t(s, dir, "nation")
          .filter(col("n_nationkey") < 12)
          .select(col("n_nationkey").cast("long").as("id"))
        val ring = nodes.select(col("id").as("src"),
          pmod(col("id") + 1, lit(12)).as("dst"),
          (col("id") + 100).as("w"))
        val planted = s.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(5L, 6L, -200L),
            org.apache.spark.sql.Row(6L, 7L, -200L),
            org.apache.spark.sql.Row(7L, 5L, -200L),
            org.apache.spark.sql.Row(10L, 11L, -150L),
            org.apache.spark.sql.Row(11L, 10L, 100L),
            org.apache.spark.sql.Row(2L, 9L, -50L)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("src",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("dst",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.LongType))))
        val edges = ring.unionByName(planted)
        graft.ops.Graph.negativeCycleWitnesses(edges,
            nodes.filter(col("id") === 0))
          .orderBy("id")
      },
      Some("""WITH RECURSIVE nodes AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
             |  WHERE n_nationkey < 12),
             |base AS (
             |  SELECT id AS src, (id + 1) % 12 AS dst, 100 + id AS w
             |  FROM nodes
             |  UNION ALL SELECT 5, 6, -200
             |  UNION ALL SELECT 6, 7, -200
             |  UNION ALL SELECT 7, 5, -200
             |  UNION ALL SELECT 10, 11, -150
             |  UNION ALL SELECT 11, 10, 100
             |  UNION ALL SELECT 2, 9, -50
             |  UNION ALL SELECT id, id, 0 FROM nodes),
             |e AS (SELECT src, dst, min(w) AS w FROM base GROUP BY 1, 2),
             |d AS (
             |  SELECT 0 AS it, CAST(0 AS BIGINT) AS id,
             |    CAST(0 AS BIGINT) AS dist
             |  UNION ALL
             |  SELECT d.it + 1, e.dst, min(d.dist + e.w)
             |  FROM d JOIN e ON e.src = d.id
             |  WHERE d.it < 12
             |  GROUP BY 1, 2)
             |SELECT a.id, a.dist AS dist_stable, b.dist AS dist_witness
             |FROM (SELECT id, dist FROM d WHERE it = 11) a
             |JOIN (SELECT id, dist FROM d WHERE it = 12) b USING (id)
             |WHERE b.dist < a.dist
             |ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q307 — log-transformed survival bands (X145,
    // Survival.kaplanMeierLogLogCI + nelsonAalenLogCI): q276's churn
    // cohorts published in the CLAMP-FREE forms — the KM band on the
    // log(−log S) scale (bounds provably inside (0,1)) and the NA band
    // on the log-H scale (bounds provably positive), both faces in one
    // frame. The oracle replays the shared step table, the recursive
    // floor-product S/gw trajectory, the windowed H/V sums, and both
    // stated ln/exp chains (pow written as exp·ln so the engines run
    // the identical op sequence).
    Q("q307_survival_log_bands",
      (s, dir) => {
        val ev = Relational.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
        val subjects = ev.groupBy("user_id").agg(
            min(col("us")).as("fus"), max(col("us")).as("lus"),
            min(struct(col("us"), col("event_id"), col("event_type")))
              .as("__f"))
          .select(col("__f").getField("event_type").as("grp0"),
            expr("(lus - fus) DIV 86400000000").as("dur"),
            (col("lus") < maxUs - 43200000000L).as("churned"))
        val km = graft.ops.Survival.kaplanMeierLogLogCI(subjects,
            col("grp0"), col("dur"), col("churned"))
          .select(lit("km").as("face"), col("grp"), col("t"),
            col("n_risk"), col("d_events"),
            col("s_micro").as("est_micro"), col("lo_micro"),
            col("hi_micro"))
        val na = graft.ops.Survival.nelsonAalenLogCI(subjects,
            col("grp0"), col("dur"), col("churned"))
          .select(lit("na").as("face"), col("grp"), col("t"),
            col("n_risk"), col("d_events"),
            col("h_micro").as("est_micro"), col("lo_micro"),
            col("hi_micro"))
        km.unionByName(na).orderBy("face", "grp", "t")
      },
      Some("""WITH RECURSIVE e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             |    event_type
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mx AS (SELECT max(us) AS m FROM e),
             |per0 AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS rn,
             |    min(us) OVER (PARTITION BY user_id) AS fus,
             |    max(us) OVER (PARTITION BY user_id) AS lus
             |  FROM e),
             |per AS (SELECT event_type AS grp,
             |    (lus - fus) // 86400000000 AS t,
             |    lus < (SELECT m FROM mx) - 43200000000 AS ev
             |  FROM per0 WHERE rn = 1),
             |st AS (SELECT grp, t,
             |    sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS al
             |  FROM per GROUP BY 1, 2),
             |wk AS (SELECT grp, t, d,
             |    sum(al) OVER (PARTITION BY grp)
             |      - coalesce(sum(al) OVER (PARTITION BY grp ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND 1 PRECEDING), 0) AS n
             |  FROM st),
             |sp AS (SELECT grp, t, n, d,
             |    row_number() OVER (PARTITION BY grp ORDER BY t) AS rn
             |  FROM wk WHERE d > 0),
             |km AS (SELECT grp, t, n, d, rn,
             |    1000000 * (n - d) // n AS s,
             |    CASE WHEN n = d THEN 0
             |         ELSE d * 1000000000 // (n * (n - d)) END AS gw
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.grp, sp.t, sp.n, sp.d, sp.rn,
             |    km.s * (sp.n - sp.d) // sp.n,
             |    km.gw + CASE WHEN sp.n = sp.d THEN 0
             |      ELSE sp.d * 1000000000 // (sp.n * (sp.n - sp.d)) END
             |  FROM km JOIN sp ON sp.grp = km.grp AND sp.rn = km.rn + 1),
             |kmf AS (SELECT 'km' AS face, grp, t,
             |  CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
             |  CAST(s AS BIGINT) AS est_micro,
             |  CASE WHEN s = 0 THEN NULL ELSE CAST(round(1000000 *
             |    exp(exp(1.959964 * (sqrt(CAST(gw AS DOUBLE) / 1000000000.0)
             |      / (-ln(CAST(s AS DOUBLE) / 1000000.0))))
             |      * ln(CAST(s AS DOUBLE) / 1000000.0))) AS BIGINT)
             |    END AS lo_micro,
             |  CASE WHEN s = 0 THEN NULL ELSE CAST(round(1000000 *
             |    exp(exp(-1.959964 * (sqrt(CAST(gw AS DOUBLE) / 1000000000.0)
             |      / (-ln(CAST(s AS DOUBLE) / 1000000.0))))
             |      * ln(CAST(s AS DOUBLE) / 1000000.0))) AS BIGINT)
             |    END AS hi_micro
             |  FROM km),
             |naacc AS (SELECT grp, t, n, d,
             |    sum(d * 1000000 // n) OVER (PARTITION BY grp ORDER BY t)
             |      AS h,
             |    sum(d * 1000000000000 // (n * n))
             |      OVER (PARTITION BY grp ORDER BY t) AS v
             |  FROM sp),
             |naf AS (SELECT 'na' AS face, grp, t,
             |  CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
             |  CAST(h AS BIGINT) AS est_micro,
             |  CASE WHEN h = 0 THEN NULL ELSE CAST(round(CAST(h AS DOUBLE)
             |    * exp(-1.959964 * (sqrt(CAST(v AS DOUBLE) / 1000000000000.0)
             |      / (CAST(h AS DOUBLE) / 1000000.0)))) AS BIGINT)
             |    END AS lo_micro,
             |  CASE WHEN h = 0 THEN NULL ELSE CAST(round(CAST(h AS DOUBLE)
             |    * exp(1.959964 * (sqrt(CAST(v AS DOUBLE) / 1000000000000.0)
             |      / (CAST(h AS DOUBLE) / 1000000.0)))) AS BIGINT)
             |    END AS hi_micro
             |  FROM naacc)
             |SELECT * FROM kmf
             |UNION ALL SELECT * FROM naf
             |ORDER BY face, grp, t""".stripMargin)),

    // ------------------------------------------------------------------
    // q308 — paired Wilcoxon signed-rank (X146,
    // RankStats.wilcoxonSignedRank): per customer-parity family, did
    // per-customer spend MOVE between the calendar halves? Pairs are
    // customers (absent half = 0 cents, stated), d = H1 − H2 exact
    // cents; zero differences drop with a count, |d| gets doubled
    // midranks, W2 sums the positive side, and the tie-corrected normal
    // z is one stated chain. The oracle replays the pair construction,
    // the zero census, both RANGE windows, the exact HUGEINT sums, and
    // the chain.
    Q("q308_wilcoxon_signed_rank",
      (s, dir) => {
        val pairs = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
            col("o_custkey").as("ck"))
          .agg(sum(when(month(col("o_orderdate")) <= 6,
              (col("o_totalprice") * 100).cast("long")).otherwise(0L))
              .as("a"),
            sum(when(month(col("o_orderdate")) > 6,
              (col("o_totalprice") * 100).cast("long")).otherwise(0L))
              .as("b"))
        graft.ops.RankStats.wilcoxonSignedRank(pairs, Seq("fam"),
            col("a"), col("b"))
          .orderBy("fam")
      },
      Some("""WITH pr AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    o_custkey AS ck,
             |    sum(CASE WHEN month(o_orderdate) <= 6
             |      THEN CAST(trunc(o_totalprice * 100) AS BIGINT)
             |      ELSE 0 END) AS a,
             |    sum(CASE WHEN month(o_orderdate) > 6
             |      THEN CAST(trunc(o_totalprice * 100) AS BIGINT)
             |      ELSE 0 END) AS b
             |  FROM orders GROUP BY 1, 2),
             |dd AS (SELECT fam, a - b AS d FROM pr),
             |cz AS (SELECT fam,
             |    sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS n_zeros
             |  FROM dd GROUP BY 1),
             |cells AS (SELECT fam, abs(d) AS ad, d > 0 AS pos,
             |    count(*) AS c
             |  FROM dd WHERE d <> 0 GROUP BY 1, 2, 3),
             |rk AS (SELECT fam, ad, pos, c,
             |    2 * coalesce(sum(c) OVER (PARTITION BY fam ORDER BY ad
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    + sum(c) OVER (PARTITION BY fam ORDER BY ad
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS dr
             |  FROM cells),
             |pf AS (SELECT fam, sum(c) AS n_pairs,
             |    sum(CASE WHEN pos THEN c::HUGEINT * dr ELSE 0 END) AS w2
             |  FROM rk GROUP BY 1),
             |tt AS (SELECT fam, sum(t::HUGEINT * t * t - t) AS tie
             |  FROM (SELECT fam, ad, sum(c) AS t FROM cells GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT cz.fam,
             |  CAST(coalesce(pf.n_pairs, 0) AS BIGINT) AS n_pairs,
             |  CAST(cz.n_zeros AS BIGINT) AS n_zeros,
             |  CAST(pf.w2 AS BIGINT) AS w2,
             |  CASE WHEN pf.n_pairs >= 1 THEN CAST(round(1000000 *
             |    (CAST(pf.w2 AS DOUBLE)
             |      - CAST(pf.n_pairs * (pf.n_pairs + 1) // 2 AS DOUBLE))
             |    / sqrt(CAST(2 * pf.n_pairs::HUGEINT * (pf.n_pairs + 1)
             |        * (2 * pf.n_pairs + 1) - tt.tie AS DOUBLE) / 12.0))
             |    AS BIGINT) END AS z_micro
             |FROM cz LEFT JOIN pf USING (fam) LEFT JOIN tt USING (fam)
             |ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q309 — personalized PageRank (X147, Graph.personalizedPageRank):
    // q160's part→supplier DIRECTED graph (every supplier dangling)
    // ranked from the five trusted seed parts — teleport and each
    // round's dangling mass land on the SEEDS only, so scores mean
    // "relevance reachable from the seeds" and total mass stays
    // conserved by the restart vector. The oracle replays all three
    // integer rounds with the seed-restricted base and dm // |S| terms.
    Q("q309_personalized_pagerank",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        val seeds = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.personalizedPageRank(edges, seeds, iterations = 3)
          .orderBy("id")
      },
      Some(s"""WITH e AS (
             |  SELECT DISTINCT l_partkey * 10 AS src,
             |    l_suppkey * 10 + 1 AS dst
             |  FROM lineitem),
             |sd AS (SELECT p_partkey * 10 AS id FROM part
             |       WHERE p_partkey <= 5),
             |n AS (SELECT id, max(seed) AS seed FROM (
             |    SELECT src AS id, 0 AS seed FROM e
             |    UNION ALL SELECT dst, 0 FROM e
             |    UNION ALL SELECT id, 1 FROM sd)
             |  GROUP BY id),
             |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
             |params AS (SELECT (SELECT count(*) FROM sd) AS sc,
             |  1000000000000 // (SELECT count(*) FROM sd) AS r_init,
             |  (1000000000000 * 15)
             |    // (100 * (SELECT count(*) FROM sd)) AS base),
             |r0 AS (SELECT id, seed,
             |  CASE WHEN seed = 1 THEN (SELECT r_init FROM params)
             |       ELSE 0 END AS pr FROM n),
             |$dPprSeedIters
             |SELECT id, pr FROM r3 ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q310 — incremental rank-test cells (X148, RankStats.kwCommitBatch/
    // kwCompact/kwReadTest over the X75/X59 ledger): q293's question
    // answered the MONITORING way — the (family, value, group) cell
    // counts arrive in three exactly-once batches (one replayed to prove
    // the no-op), fold once, and the test re-runs from the cell store
    // without re-scanning any raw row. The oracle is the ONE-SHOT replay
    // over the full data: incremental ≡ one-shot is the operator's
    // degeneracy pin, so the same SQL must hash-match.
    Q("q310_incremental_rank_test",
      (s, dir) => {
        val work = workDir("q310")
        val n = t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
        val joined = t(s, dir, "customer").join(broadcast(n), "c_nationkey")
        (0 to 2).foreach { i =>
          require(graft.ops.RankStats.kwCommitBatch(s, work.toString,
            "kw_cells", i.toLong,
            joined.filter(pmod(col("c_custkey"), lit(3)) === i),
            Seq("n_name"), (col("c_acctbal") * 100).cast("long"),
            col("c_mktsegment")), s"batch $i must commit")
        }
        // orchestrator replay: the committed id no-ops without even
        // building the batch plan
        require(!graft.ops.RankStats.kwCommitBatch(s, work.toString,
          "kw_cells", 1L, sys.error("replay must not build the plan"),
          Seq("n_name"), (col("c_acctbal") * 100).cast("long"),
          col("c_mktsegment")), "replay must no-op")
        require(graft.ops.RankStats.kwCompact(s, work.toString,
          "kw_cells", Seq("n_name"), maxDeltas = 1), "fold must run")
        graft.ops.RankStats.kwReadTest(s, work.toString, "kw_cells",
            Seq("n_name"))
          .orderBy("n_name")
      },
      Some("""WITH b AS (SELECT n_name,
             |    CAST(trunc(c_acctbal * 100) AS BIGINT) AS v,
             |    c_mktsegment AS g
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |cells AS (SELECT n_name, v, g, count(*) AS cg
             |  FROM b GROUP BY 1, 2, 3),
             |rk AS (SELECT n_name, v, g, cg,
             |    coalesce(sum(cg) OVER (PARTITION BY n_name ORDER BY v
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS bef,
             |    sum(cg) OVER (PARTITION BY n_name ORDER BY v
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS cv
             |  FROM cells),
             |pg AS (SELECT n_name, g, sum(cg) AS ng,
             |    sum(cg::HUGEINT * (2 * bef + cv + 1)) AS s2
             |  FROM rk GROUP BY 1, 2),
             |pf AS (SELECT n_name, count(*) AS k_groups,
             |    sum(ng) AS n_total, sum((s2 * s2) // ng) AS a
             |  FROM pg GROUP BY 1),
             |tie AS (SELECT n_name, sum(t * t * t - t) AS tt FROM
             |    (SELECT n_name, v, sum(cg)::HUGEINT AS t
             |     FROM cells GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT pf.n_name, CAST(k_groups AS BIGINT) AS k_groups,
             |  CAST(n_total AS BIGINT) AS n_total,
             |  CASE WHEN k_groups >= 2 AND CAST(tt AS DOUBLE) <
             |      CAST(n_total::HUGEINT * n_total * n_total - n_total
             |        AS DOUBLE) THEN
             |    CAST(round((3.0 * CAST(a AS DOUBLE)
             |        / (CAST(n_total AS DOUBLE) * (n_total + 1))
             |       - 3.0 * (n_total + 1))
             |      / (1.0 - CAST(tt AS DOUBLE) /
             |         CAST(n_total::HUGEINT * n_total * n_total - n_total
             |           AS DOUBLE))
             |      * 1000000) AS BIGINT) END AS h_micro
             |FROM pf JOIN tie USING (n_name) ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q311 — Cochran's Q test (X149, RankStats.cochranQ): "did the
    // high-ticket conversion rate differ across years for the SAME
    // customers?" — blocks are customers, treatments the seven order
    // years, outcome 1 iff the customer placed a >150k order that year;
    // only customers observed in every year enter (the complete-block
    // rule), and the oracle replays the all-integer identity
    // Q = (k−1)(kΣC² − N²)/(kN − ΣR²) with the same one double chain.
    Q("q311_cochran_q",
      (s, dir) => {
        val cells = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
            col("o_custkey").as("blk"),
            year(col("o_orderdate")).as("yr"))
          .agg(max(when(col("o_totalprice") > 150000, 1L).otherwise(0L))
            .as("hit"))
        graft.ops.RankStats.cochranQ(cells, Seq("fam"), col("blk"),
            col("yr"), col("hit"))
          .orderBy("fam")
      },
      Some("""WITH cl AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    o_custkey AS blk, year(o_orderdate) AS yr,
             |    max(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
             |      AS hit
             |  FROM orders GROUP BY 1, 2, 3),
             |ks AS (SELECT fam, count(DISTINCT yr) AS k FROM cl GROUP BY 1),
             |bs AS (SELECT fam, blk, count(*) AS bc FROM cl GROUP BY 1, 2),
             |cp AS (SELECT cl.* FROM cl
             |  JOIN bs USING (fam, blk) JOIN ks USING (fam)
             |  WHERE bc = k),
             |pt AS (SELECT fam, yr, sum(hit) AS cj FROM cp GROUP BY 1, 2),
             |pf AS (SELECT fam, count(*) AS k_treatments,
             |    sum(cj) AS n_success, sum(cj::HUGEINT * cj) AS sc2
             |  FROM pt GROUP BY 1),
             |pb AS (SELECT fam, blk, sum(hit) AS ri FROM cp GROUP BY 1, 2),
             |pbf AS (SELECT fam, count(*) AS n_blocks,
             |    sum(ri::HUGEINT * ri) AS sr2
             |  FROM pb GROUP BY 1)
             |SELECT pf.fam, CAST(k_treatments AS BIGINT) AS k_treatments,
             |  CAST(n_blocks AS BIGINT) AS n_blocks,
             |  CAST(n_success AS BIGINT) AS n_success,
             |  CASE WHEN k_treatments >= 2
             |   AND k_treatments * CAST(n_success AS DOUBLE)
             |     - CAST(sr2 AS DOUBLE) <> 0.0 THEN
             |    CAST(round((k_treatments - 1)
             |      * (k_treatments * CAST(sc2 AS DOUBLE)
             |         - CAST(n_success AS DOUBLE) * n_success)
             |      / (k_treatments * CAST(n_success AS DOUBLE)
             |         - CAST(sr2 AS DOUBLE))
             |      * 1000000) AS BIGINT) END AS q_micro
             |FROM pf JOIN pbf USING (fam) ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q312 — Kendall's τ-b (X150, RankStats.kendallTau): does quantity
    // order extended price within each return flag? — the pair-count
    // agreement coefficient beside q133's Spearman, replayed from the
    // same (x, y) → count cells: one ordered self-join for C/D, margin
    // tie terms, and the τ-b chain over exact integers.
    Q("q312_kendall_tau",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        graft.ops.RankStats.kendallTau(li, Seq("l_returnflag"),
            col("l_quantity").cast("long"),
            (col("l_extendedprice") / 1000).cast("long"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (SELECT l_returnflag AS fam,
             |    CAST(trunc(l_quantity) AS BIGINT) AS x,
             |    CAST(trunc(l_extendedprice / 1000) AS BIGINT) AS y
             |  FROM lineitem),
             |cells AS (SELECT fam, x, y, count(*) AS c FROM b
             |  GROUP BY 1, 2, 3),
             |pairs AS (SELECT a.fam,
             |    sum(CASE WHEN a.y < b2.y THEN a.c::HUGEINT * b2.c
             |        ELSE 0 END) AS cc,
             |    sum(CASE WHEN a.y > b2.y THEN a.c::HUGEINT * b2.c
             |        ELSE 0 END) AS dd
             |  FROM cells a JOIN cells b2
             |    ON a.fam = b2.fam AND a.x < b2.x
             |  GROUP BY 1),
             |nt AS (SELECT fam, sum(c) AS n FROM cells GROUP BY 1),
             |tx AS (SELECT fam, sum(t::HUGEINT * (t - 1)) AS tx2 FROM
             |    (SELECT fam, x, sum(c) AS t FROM cells GROUP BY 1, 2)
             |  GROUP BY 1),
             |ty AS (SELECT fam, sum(t::HUGEINT * (t - 1)) AS ty2 FROM
             |    (SELECT fam, y, sum(c) AS t FROM cells GROUP BY 1, 2)
             |  GROUP BY 1),
             |j AS (SELECT nt.fam, n,
             |    CAST(coalesce(cc, 0) AS BIGINT) AS concordant,
             |    CAST(coalesce(dd, 0) AS BIGINT) AS discordant, tx2, ty2
             |  FROM nt LEFT JOIN pairs USING (fam)
             |  JOIN tx USING (fam) JOIN ty USING (fam))
             |SELECT fam AS l_returnflag, CAST(n AS BIGINT) AS n,
             |  concordant, discordant,
             |  CASE WHEN n >= 2 AND n::HUGEINT * (n - 1) <> tx2
             |   AND n::HUGEINT * (n - 1) <> ty2 THEN
             |    CAST(round(1000000
             |      * (CAST(concordant AS DOUBLE) - discordant)
             |      / sqrt((CAST(n::HUGEINT * (n - 1) - tx2 AS DOUBLE)
             |              / 2.0)
             |           * (CAST(n::HUGEINT * (n - 1) - ty2 AS DOUBLE)
             |              / 2.0))) AS BIGINT) END AS tau_micro
             |FROM j ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q313 — ACF + Ljung-Box (X151, TimeSeries.acfLjungBox): is the
    // monthly order count white noise, per customer-parity family? —
    // the residual diagnostic behind the ETS kit, replayed exactly: the
    // oracle joins each month to its k-lagged partner, forms the same
    // n²-scaled DECIMAL numerator/denominator, and runs the identical
    // r/LB chains (the LB cumulative rides floored integers, never
    // running doubles, so the hash match is structural).
    Q("q313_acf_ljung_box",
      (s, dir) => {
        val b = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("g"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .as("p"))
          .agg(count(lit(1)).as("y"))
        graft.ops.TimeSeries.acfLjungBox(b, col("g"), col("p"), col("y"),
            maxLag = 6)
          .orderBy("grp", "lag")
      },
      Some("""WITH b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS g,
             |    year(o_orderdate) * 12 + month(o_orderdate) AS p,
             |    count(*) AS y
             |  FROM orders GROUP BY 1, 2),
             |st AS (SELECT g, count(*) AS n, sum(y::HUGEINT) AS s,
             |    sum(y::HUGEINT * y) AS s2 FROM b GROUP BY 1),
             |lp AS (SELECT a.g, l.k AS lag,
             |    sum(a.y::HUGEINT * c.y) AS pk,
             |    sum(a.y::HUGEINT) AS hk, sum(c.y::HUGEINT) AS tk
             |  FROM b a
             |  JOIN (VALUES (1), (2), (3), (4), (5), (6)) l(k) ON true
             |  JOIN b c ON c.g = a.g AND c.p = a.p + l.k
             |  GROUP BY 1, 2),
             |j AS (SELECT lp.g, lag, n,
             |    n::HUGEINT * n * pk - n::HUGEINT * s * (hk + tk)
             |      + (n::HUGEINT - lag) * s * s AS num,
             |    n::HUGEINT * n * s2 - n::HUGEINT * s * s AS den
             |  FROM lp JOIN st USING (g)),
             |r AS (SELECT g, lag, n, den,
             |    CASE WHEN den <> 0 THEN
             |      CAST(round(1000000 * CAST(num AS DOUBLE)
             |        / CAST(den AS DOUBLE)) AS BIGINT) END AS r_micro
             |  FROM j),
             |cm AS (SELECT g, lag, n, den, r_micro,
             |    sum((r_micro * r_micro * 1000000) // (n - lag))
             |      OVER (PARTITION BY g ORDER BY lag
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum
             |  FROM r)
             |SELECT g AS grp, CAST(lag AS INTEGER) AS lag,
             |  CAST(n AS BIGINT) AS n, r_micro,
             |  CASE WHEN den <> 0 THEN
             |    CAST(round(CAST(n AS DOUBLE) * (n + 2)
             |      * CAST(cum AS DOUBLE) / 1e12) AS BIGINT) END
             |    AS lb_q_micro
             |FROM cm ORDER BY grp, lag""".stripMargin)),

    // ------------------------------------------------------------------
    // q314 — HITS hubs & authorities (X152, Graph.hits): q309's
    // part→supplier DIRECTED bipartite graph scored for both roles over
    // two full integer rounds — parts can only be hubs (no in-edges),
    // suppliers only authorities, so the role split is structural and
    // the oracle replays the stated update order (auth from previous
    // hubs, L1-renormalize, hubs from fresh auths, renormalize).
    Q("q314_hits",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        graft.ops.Graph.hits(edges, iterations = 2)
          .orderBy("id")
      },
      Some(s"""WITH e AS (
             |  SELECT DISTINCT l_partkey * 10 AS src,
             |    l_suppkey * 10 + 1 AS dst
             |  FROM lineitem),
             |n AS (SELECT DISTINCT id FROM (
             |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
             |h0 AS (SELECT id,
             |  1000000000000 // (SELECT count(*) FROM n) AS h FROM n),
             |$dHitsIters
             |SELECT h2.id, CAST(h2.h AS BIGINT) AS hub,
             |  CAST(a2.a AS BIGINT) AS auth
             |FROM h2 JOIN a2 USING (id) ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q315 — χ² + G-test of independence (X153,
    // RankStats.independenceTest): is order priority independent of
    // order status, per customer-parity family? — the dataset-bias
    // audit primitive. The oracle replays the zero-cell-free identity
    // χ² = N·(ΣO²/(RC) − 1) over the same floored pico terms, the
    // per-cell integer G chain, and the Cramér's V presentation.
    Q("q315_independence_test",
      (s, dir) => {
        graft.ops.RankStats.independenceTest(
            t(s, dir, "orders").select(
              concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
              col("o_orderpriority"), col("o_orderstatus")),
            Seq("fam"), col("o_orderpriority"), col("o_orderstatus"))
          .orderBy("fam")
      },
      Some("""WITH b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    coalesce(o_orderpriority, '(null)') AS a,
             |    coalesce(o_orderstatus, '(null)') AS bb
             |  FROM orders),
             |cells AS (SELECT fam, a, bb, count(*) AS o FROM b
             |  GROUP BY 1, 2, 3),
             |rt AS (SELECT fam, a, sum(o) AS r FROM cells GROUP BY 1, 2),
             |ct AS (SELECT fam, bb, sum(o) AS c FROM cells GROUP BY 1, 2),
             |lv AS (SELECT rt.fam, count(*) AS r_levels, sum(r) AS n
             |  FROM rt GROUP BY 1),
             |lc AS (SELECT fam, count(*) AS c_levels FROM ct GROUP BY 1),
             |tm AS (SELECT cells.fam,
             |    (o::HUGEINT * o * 1000000000000)
             |      // (r::HUGEINT * c) AS t,
             |    CAST(round(1000000 * 2 * o *
             |      ln((CAST(o AS DOUBLE) * n)
             |         / (CAST(r AS DOUBLE) * c))) AS BIGINT) AS g
             |  FROM cells JOIN rt USING (fam, a)
             |  JOIN ct USING (fam, bb) JOIN lv USING (fam)),
             |pf AS (SELECT fam, sum(t) AS ss, sum(g::HUGEINT) AS gg
             |  FROM tm GROUP BY 1),
             |o1 AS (SELECT lv.fam, CAST(n AS BIGINT) AS n,
             |    CAST(r_levels AS BIGINT) AS r_levels,
             |    CAST(c_levels AS BIGINT) AS c_levels,
             |    CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
             |    CASE WHEN (r_levels - 1) * (c_levels - 1) >= 1 THEN
             |      CAST(round(CAST(n AS DOUBLE)
             |        * (CAST(ss AS DOUBLE) - 1000000000000) / 1e6)
             |        AS BIGINT) END AS chi2_micro,
             |    CASE WHEN (r_levels - 1) * (c_levels - 1) >= 1 THEN
             |      CAST(gg AS BIGINT) END AS g_micro,
             |    least(r_levels - 1, c_levels - 1) AS mn
             |  FROM lv JOIN lc USING (fam) JOIN pf USING (fam))
             |SELECT fam, n, r_levels, c_levels, dof, chi2_micro, g_micro,
             |  CASE WHEN dof >= 1 THEN
             |    CAST(round(1000000 * sqrt(
             |      greatest(CAST(chi2_micro AS DOUBLE) / 1e6, 0e0)
             |      / (CAST(n AS DOUBLE) * mn))) AS BIGINT) END AS v_micro
             |FROM o1 ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q316 — Jonckheere-Terpstra (X154, RankStats.jonckheereTerpstra):
    // does order value trend across the seven order YEARS, per
    // customer-parity family? — the ordered-alternative sharpening of
    // q293's KW question. The oracle replays the doubled pairwise
    // Mann-Whitney sum from the same cells and the Hollander-Wolfe
    // tie-corrected moments as one chain.
    Q("q316_jonckheere_terpstra",
      (s, dir) => {
        graft.ops.RankStats.jonckheereTerpstra(
            t(s, dir, "orders").select(
              concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
              year(col("o_orderdate")).as("yr"),
              (col("o_totalprice") / 1000).cast("long").as("kp")),
            Seq("fam"), col("yr"), col("kp"))
          .orderBy("fam")
      },
      Some("""WITH b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    year(o_orderdate) AS g,
             |    CAST(trunc(o_totalprice / 1000) AS BIGINT) AS v
             |  FROM orders),
             |cells AS (SELECT fam, g, v, count(*) AS c FROM b
             |  GROUP BY 1, 2, 3),
             |jj AS (SELECT a.fam,
             |    sum(a.c::HUGEINT * b2.c * (CASE WHEN a.v < b2.v THEN 2
             |      WHEN a.v = b2.v THEN 1 ELSE 0 END)) AS j2
             |  FROM cells a JOIN cells b2
             |    ON a.fam = b2.fam AND a.g < b2.g
             |  GROUP BY 1),
             |gr AS (SELECT fam, count(*) AS k_groups, sum(ng) AS n,
             |    sum(ng::HUGEINT * ng) AS sn2,
             |    sum(ng::HUGEINT * (ng - 1)) AS sn11,
             |    sum(ng::HUGEINT * (ng - 1) * (2 * ng + 5)) AS sn25,
             |    sum(ng::HUGEINT * (ng - 1) * (ng - 2)) AS sn12
             |  FROM (SELECT fam, g, sum(c) AS ng FROM cells GROUP BY 1, 2)
             |  GROUP BY 1),
             |tt AS (SELECT fam,
             |    sum(t::HUGEINT * (t - 1)) AS st11,
             |    sum(t::HUGEINT * (t - 1) * (2 * t + 5)) AS st25,
             |    sum(t::HUGEINT * (t - 1) * (t - 2)) AS st12
             |  FROM (SELECT fam, v, sum(c) AS t FROM cells GROUP BY 1, 2)
             |  GROUP BY 1),
             |j AS (SELECT gr.fam, n, k_groups,
             |    CAST(coalesce(j2, 0) AS BIGINT) AS j2, sn2,
             |    CASE WHEN n >= 3 THEN
             |      (CAST(n::HUGEINT * (n - 1) * (2 * n + 5)
             |          - sn25 - st25 AS DOUBLE) / 72.0
             |       + CAST(sn12 * st12 AS DOUBLE)
             |         / (36.0 * n * (n - 1) * (n - 2))
             |       + CAST(sn11 * st11 AS DOUBLE)
             |         / (8.0 * n * (n - 1))) * 4.0
             |    ELSE 0.0 END AS var4
             |  FROM gr JOIN tt USING (fam) LEFT JOIN jj USING (fam))
             |SELECT fam, CAST(n AS BIGINT) AS n,
             |  CAST(k_groups AS BIGINT) AS k_groups, j2,
             |  CASE WHEN k_groups >= 2 AND n >= 3 AND var4 > 0 THEN
             |    CAST(round(1000000 * (CAST(j2 AS DOUBLE)
             |      - CAST((n::HUGEINT * n - sn2) // 2 AS DOUBLE))
             |      / sqrt(var4)) AS BIGINT) END AS z_micro
             |FROM j ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q317 — Cochran-Mantel-Haenszel (X155, RankStats.cmhTest): is
    // high-priority associated with an unfinished order status AFTER
    // adjusting for order year? — the confounder-adjusted companion to
    // q315 (a year-driven mix shift would fool the marginal table;
    // Simpson's-paradox insurance). The oracle replays the per-stratum
    // 2×2 collapse, the pico-floored E/V/AD/BC terms, and both chains.
    Q("q317_cmh_test",
      (s, dir) => {
        graft.ops.RankStats.cmhTest(
            t(s, dir, "orders").select(
              concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
              year(col("o_orderdate")).as("yr"),
              col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                .cast("long").as("hi"),
              (col("o_orderstatus") === "F").cast("long").as("fin")),
            Seq("fam"), col("yr"), col("hi"), col("fin"))
          .orderBy("fam")
      },
      Some("""WITH b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    CAST(year(o_orderdate) AS VARCHAR) AS s,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS e,
             |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
             |  FROM orders),
             |st AS (SELECT fam, s,
             |    sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS a,
             |    sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS bb,
             |    sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS c,
             |    sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS dd
             |  FROM b GROUP BY 1, 2),
             |tm AS (SELECT fam, a, bb, c, dd,
             |    a + bb + c + dd AS n FROM st),
             |pf AS (SELECT fam, count(*) AS k_strata, sum(n) AS n,
             |    sum(CASE WHEN n >= 2 THEN a ELSE 0 END) AS sum_a,
             |    sum(CASE WHEN n >= 2 THEN
             |      ((a + bb)::HUGEINT * (a + c) * 1000000000000) // n
             |      ELSE 0 END) AS se,
             |    sum(CASE WHEN n >= 2 THEN
             |      ((a + bb)::HUGEINT * (c + dd) * (a + c) * (bb + dd)
             |        * 1000000000000)
             |      // (n::HUGEINT * n * (n - 1)) ELSE 0 END) AS sv,
             |    sum(CASE WHEN n >= 2 THEN
             |      (a::HUGEINT * dd * 1000000000000) // n
             |      ELSE 0 END) AS sad,
             |    sum(CASE WHEN n >= 2 THEN
             |      (bb::HUGEINT * c * 1000000000000) // n
             |      ELSE 0 END) AS sbc
             |  FROM tm GROUP BY 1)
             |SELECT fam, CAST(k_strata AS BIGINT) AS k_strata,
             |  CAST(n AS BIGINT) AS n, CAST(sum_a AS BIGINT) AS sum_a,
             |  CASE WHEN sv > 0 THEN CAST(round(
             |    (CAST(sum_a::HUGEINT * 1000000000000 - se AS DOUBLE)
             |     * CAST(sum_a::HUGEINT * 1000000000000 - se AS DOUBLE))
             |    / (CAST(sv AS DOUBLE) * 1e12) * 1e6) AS BIGINT) END
             |    AS t_micro,
             |  CASE WHEN sbc > 0 THEN CAST(round(1000000
             |    * CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE)) AS BIGINT)
             |    END AS or_mh_micro
             |FROM pf ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q318 — χ²/G goodness-of-fit vs a stated mixture (X156,
    // RankStats.goodnessOfFit): does the FIRST DIGIT of order value
    // follow Benford's law, per customer-parity family? — the
    // declared-target audit (the same operator closes the loop on
    // mixture sampling: observed shares vs target weights). Benford
    // micro-weights round(1e6·log₁₀(1+1/d)) sum to exactly 1e6; the
    // oracle replays the identity ΣO²/E − N over the same floored
    // terms and the per-cell G chain.
    Q("q318_benford_audit",
      (s, dir) => {
        import s.implicits._
        val benford = (1 to 9).map(dd => (dd.toString,
          math.round(1000000.0 * math.log10(1.0 + 1.0 / dd))))
          .toDF("level", "weight_micro")
        graft.ops.RankStats.goodnessOfFit(
            t(s, dir, "orders").select(
              concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
              floor(col("o_totalprice") /
                pow(lit(10.0), floor(log10(col("o_totalprice")))))
                .cast("int").as("d1")),
            Seq("fam"), col("d1"), benford)
          .orderBy("fam")
      },
      Some("""WITH ref AS (SELECT CAST(d AS VARCHAR) AS l,
             |    CAST(round(1000000 * log10(1 + 1.0 / d)) AS BIGINT) AS w
             |  FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
             |    t(d)),
             |b AS (SELECT 'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    CAST(CAST(floor(o_totalprice
             |      / power(10, floor(log10(o_totalprice)))) AS INTEGER)
             |      AS VARCHAR) AS l
             |  FROM orders),
             |cells AS (SELECT fam, l, count(*) AS o FROM b GROUP BY 1, 2),
             |tot AS (SELECT fam, sum(o) AS n, count(*) AS k_observed
             |  FROM cells GROUP BY 1),
             |tm AS (SELECT cells.fam,
             |    (o::HUGEINT * o * 1000000 * 1000000000000)
             |      // (n::HUGEINT * w) AS t,
             |    CAST(round(1000000 * 2 * o *
             |      ln((CAST(o AS DOUBLE) * 1000000)
             |         / (CAST(n AS DOUBLE) * w))) AS BIGINT) AS g
             |  FROM cells JOIN ref USING (l) JOIN tot USING (fam)),
             |pf AS (SELECT fam, sum(t) AS ss, sum(g::HUGEINT) AS gg
             |  FROM tm GROUP BY 1)
             |SELECT tot.fam, CAST(n AS BIGINT) AS n,
             |  CAST(k_observed AS BIGINT) AS k_observed,
             |  CAST(8 AS BIGINT) AS dof,
             |  CAST(round(CAST(ss - n::HUGEINT * 1000000000000 AS DOUBLE)
             |    / 1e6) AS BIGINT) AS chi2_micro,
             |  CAST(gg AS BIGINT) AS g_micro
             |FROM tot JOIN pf USING (fam) ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q319 — quadratic-weighted Cohen's kappa (X157,
    // RankStats.cohenKappa): do the length proxy and the
    // lexical-diversity proxy rate documents onto the same 0..3 quality
    // scale beyond chance, per source? — the LLM-judge agreement audit
    // (percent agreement overstates under a skewed label mix; kappa is
    // the honest number). The oracle replays the cells/margins collapse,
    // the quadratic disagreement weights, and the three floor chains in
    // HUGEINT.
    Q("q319_judge_agreement_kappa",
      (s, dir) => {
        val toks = t(s, dir, "documents").select(
          col("source").as("fam"),
          TextStats.tokenCount(col("text")).cast("long").as("nt"),
          TextStats.distinctTokenCount(col("text")).cast("long").as("dt"))
        val rated = toks.select(col("fam"),
          least(expr("nt DIV 40"), lit(3L)).as("ra"),
          when(col("nt") === 0, lit(0L))
            .otherwise(least(expr("(4 * dt) DIV nt"), lit(3L))).as("rb"))
        graft.ops.RankStats.cohenKappa(rated, Seq("fam"),
            col("ra"), col("rb"), weightPower = 2)
          .orderBy("fam")
      },
      Some(s"""WITH tk AS (SELECT source AS fam, $dTok AS tok
             |  FROM documents),
             |b AS (SELECT fam,
             |    least(len(tok) // 40, 3) AS ra,
             |    CASE WHEN len(tok) = 0 THEN 0
             |      ELSE least((4 * len(list_distinct(tok))) // len(tok), 3)
             |      END AS rb
             |  FROM tk),
             |cells AS (SELECT fam, ra, rb, count(*) AS o
             |  FROM b GROUP BY 1, 2, 3),
             |rt AS (SELECT fam, ra, sum(o) AS r FROM cells GROUP BY 1, 2),
             |ct AS (SELECT fam, rb, sum(o) AS c FROM cells GROUP BY 1, 2),
             |lv AS (SELECT fam, count(*) AS k_levels FROM (
             |    SELECT DISTINCT fam, ra AS l FROM rt
             |    UNION SELECT DISTINCT fam, rb FROM ct) GROUP BY 1),
             |ob AS (SELECT fam, sum(o) AS n,
             |    sum(o::HUGEINT * (ra - rb) * (ra - rb)) AS wo
             |  FROM cells GROUP BY 1),
             |ex AS (SELECT rt.fam,
             |    sum(r::HUGEINT * c * (ra - rb) * (ra - rb)) AS we
             |  FROM rt JOIN ct ON rt.fam = ct.fam GROUP BY 1)
             |SELECT ob.fam AS fam, CAST(n AS BIGINT) AS n,
             |  CAST(k_levels AS BIGINT) AS k_levels,
             |  CAST((wo * 1000000) // n AS BIGINT) AS dw_obs_micro,
             |  CAST((we * 1000000) // (n::HUGEINT * n) AS BIGINT)
             |    AS dw_exp_micro,
             |  CASE WHEN we > 0 THEN CAST(1000000
             |    - (n::HUGEINT * wo * 1000000) // we AS BIGINT)
             |    END AS kappa_micro
             |FROM ob JOIN lv ON ob.fam = lv.fam
             |  JOIN ex ON ob.fam = ex.fam
             |ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q320 — average precision per source (X158,
    // RankStats.averagePrecision): the PR-view of exactly q271's
    // ranking (does token count retrieve "data"-bearing documents?) —
    // AUC stays flattering under imbalance, AP charges every false
    // positive above the cut. Step-interpolated over descending
    // distinct score thresholds (tie-free by construction), per-term
    // pico floors, exact integer sum. The oracle replays the cells,
    // the cumulative window, and both chains in HUGEINT.
    Q("q320_average_precision",
      (s, dir) => {
        val toks = TextStats.tokens(col("text"))
        graft.ops.RankStats.averagePrecision(
            t(s, dir, "documents").select(col("source").as("fam"),
              size(toks).cast("long").as("sc"),
              array_contains(toks, "data").as("l")),
            Seq("fam"), col("sc"), col("l"))
          .orderBy("fam")
      },
      Some(s"""WITH d AS (SELECT source AS fam, len($dTok) AS s,
             |    CASE WHEN list_contains($dTok, 'data') THEN 1 ELSE 0 END
             |      AS y FROM documents),
             |cells AS (SELECT fam, s, count(*) AS cnt, sum(y) AS tp
             |  FROM d GROUP BY 1, 2),
             |cum AS (SELECT *,
             |    sum(tp) OVER (PARTITION BY fam ORDER BY s DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS ctp,
             |    sum(cnt) OVER (PARTITION BY fam ORDER BY s DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cn
             |  FROM cells),
             |tot AS (SELECT fam, sum(cnt) AS n, sum(tp) AS p
             |  FROM cells GROUP BY 1),
             |tm AS (SELECT cum.fam,
             |    (tp::HUGEINT * ctp * 1000000000000)
             |      // (p::HUGEINT * cn) AS t
             |  FROM cum JOIN tot ON cum.fam = tot.fam WHERE tp > 0),
             |pf AS (SELECT fam, sum(t) AS ss FROM tm GROUP BY 1)
             |SELECT tot.fam AS fam, CAST(n AS BIGINT) AS n,
             |  CAST(p AS BIGINT) AS n_pos,
             |  CAST((p::HUGEINT * 1000000) // n AS BIGINT)
             |    AS prevalence_micro,
             |  CASE WHEN p > 0 THEN CAST(ss // 1000000 AS BIGINT) END
             |    AS ap_micro
             |FROM tot LEFT JOIN pf ON tot.fam = pf.fam
             |ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q321 — modularity of the label-propagation communities (X159,
    // Graph.modularity ∘ X136): q298 finds the membership-star
    // communities; this GRADES them — Q·4m² = Σ_c(4m·L_c − D_c²), all
    // exact integers, one signed truncating division. The oracle
    // replays the full 20-round LPA recursive CTE (the q298 fixpoint
    // argument) and then the canonical-edge/degree/community rollups
    // and the chain in HUGEINT.
    Q("q321_modularity",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val edges = cust.select((col("c_custkey") * 10).as("src"),
          (col("c_nationkey") * 10 + 1).as("dst"))
        val asg = graft.ops.Graph.labelPropagation(edges, maxIters = 20)
        graft.ops.Graph.modularity(edges, asg)
      },
      Some("""WITH RECURSIVE m AS (SELECT DISTINCT src, dst FROM (
             |    SELECT c_custkey * 10 AS src, c_nationkey * 10 + 1 AS dst
             |    FROM customer
             |    UNION ALL
             |    SELECT c_nationkey * 10 + 1, c_custkey * 10 FROM customer)
             |  WHERE src <> dst),
             |n AS (SELECT DISTINCT src AS id FROM m),
             |e AS (SELECT src, dst FROM m
             |  UNION ALL SELECT id, id FROM n),
             |lp AS (
             |  SELECT 0 AS it, id, CAST(id AS BIGINT) AS lab FROM n
             |  UNION ALL
             |  SELECT it + 1, src AS id,
             |    arg_max(lab, c::HUGEINT * 1000000000000 - lab) AS lab
             |  FROM (SELECT lp.it AS it, e.src AS src, lp.lab AS lab,
             |          count(*) AS c
             |        FROM lp JOIN e ON e.dst = lp.id
             |        WHERE lp.it < 20
             |        GROUP BY 1, 2, 3)
             |  GROUP BY 1, 2),
             |asg AS (SELECT CAST(id AS BIGINT) AS id, lab AS label
             |  FROM lp WHERE it = 20),
             |canon AS (SELECT DISTINCT least(src, dst) AS a,
             |    greatest(src, dst) AS b
             |  FROM (SELECT c_custkey * 10 AS src,
             |      c_nationkey * 10 + 1 AS dst FROM customer)
             |  WHERE src <> dst),
             |deg AS (SELECT id, count(*) AS dg FROM (
             |    SELECT a AS id FROM canon
             |    UNION ALL SELECT b FROM canon) GROUP BY 1),
             |mm AS (SELECT count(*) AS edges_m FROM canon),
             |lc AS (SELECT la.label AS label, count(*) AS l
             |  FROM canon
             |  JOIN asg la ON la.id = canon.a
             |  JOIN asg lb ON lb.id = canon.b
             |  WHERE la.label = lb.label GROUP BY 1),
             |dc AS (SELECT label, sum(dg) AS dd
             |  FROM deg JOIN asg USING (id) GROUP BY 1),
             |kk AS (SELECT count(DISTINCT label) AS k FROM asg),
             |tt AS (SELECT sum(4::HUGEINT * edges_m * coalesce(l, 0)
             |    - dd::HUGEINT * dd) AS s
             |  FROM dc LEFT JOIN lc USING (label), mm)
             |SELECT CAST(edges_m AS BIGINT) AS m,
             |  CAST(k AS BIGINT) AS k_communities,
             |  CASE WHEN edges_m > 0 THEN CAST((s * 1000000)
             |    // (4::HUGEINT * edges_m * edges_m) AS BIGINT) END
             |    AS q_micro
             |FROM mm, kk, tt""".stripMargin)),

    // ------------------------------------------------------------------
    // q322 — Pettitt change-point test (X160, TrendTests.pettitt): did
    // the daily order volume SHIFT, and on what day, per customer-parity
    // family? — the retrospective WHERE companion to q283's
    // Mann-Kendall trend verdict, rank-based so one wild day can't fake
    // a shift. The prefix-sum identity makes it two windows, no pair
    // join; the oracle replays the doubled midranks, the cumulative U,
    // the earliest-argmax tie-break, and the capped p chain.
    Q("q322_pettitt_changepoint",
      (s, dir) => {
        val daily = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
              .as("x"))
          .agg(count(lit(1)).as("y"))
        graft.ops.TrendTests.pettitt(daily, Seq("fam"), col("x"),
            col("y"))
          .orderBy("fam")
      },
      Some("""WITH b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    date_diff('day', DATE '1970-01-01', o_orderdate) AS x,
             |    count(*) AS y
             |  FROM orders GROUP BY 1, 2),
             |r AS (SELECT fam, x, y,
             |    count(*) OVER (PARTITION BY fam ORDER BY y
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS lt,
             |    count(*) OVER (PARTITION BY fam ORDER BY y
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS le,
             |    count(*) OVER (PARTITION BY fam) AS nn
             |  FROM b),
             |u AS (SELECT fam, x, nn,
             |    sum(lt + le - nn) OVER (PARTITION BY fam ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS uu,
             |    row_number() OVER (PARTITION BY fam ORDER BY x) AS rn
             |  FROM r),
             |best AS (SELECT fam, max(abs(uu)) AS k
             |  FROM u WHERE rn < nn GROUP BY 1),
             |cx AS (SELECT u.fam AS fam, min(x) AS change_x
             |  FROM u JOIN best ON u.fam = best.fam AND abs(uu) = k
             |  WHERE rn < nn GROUP BY 1),
             |tot AS (SELECT fam, count(*) AS n FROM b GROUP BY 1)
             |SELECT tot.fam AS fam, CAST(n AS BIGINT) AS n,
             |  CAST(k AS BIGINT) AS k_stat,
             |  CAST(change_x AS BIGINT) AS change_x,
             |  CASE WHEN k IS NOT NULL THEN CAST(least(1000000, round(
             |    2e6 * exp(-6.0 * k * k
             |      / (n::DOUBLE * n * n + n::DOUBLE * n)))) AS BIGINT)
             |    END AS p_micro
             |FROM tot LEFT JOIN best ON tot.fam = best.fam
             |  LEFT JOIN cx ON tot.fam = cx.fam
             |ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q323 — EWMA control chart (X161, TimeSeries.ewmaChart): per-type
    // daily event volumes charted against a STATED in-control baseline
    // (μ = 5, σ = 2, λ = 0.2, L = 3 — the Phase-II contract) — the
    // small-persistent-shift monitor between q182's k-sigma spikes and
    // q228's CUSUM. The exact floored z trajectory AND the
    // time-varying-limit chain sit under the hash; the oracle replays
    // the fold with a recursive CTE in HUGEINT and the limit chain op
    // for op.
    Q("q323_ewma_chart",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.ewmaChart(daily, col("event_type"),
            col("day"), col("y"), lambdaMicro = 200000L,
            muMicro = 5000000L, sigmaMicro = 2000000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM d),
             |tr AS (SELECT g, p, y, rn, 1 AS t,
             |    CAST((200000::HUGEINT * y + 800000::HUGEINT * 5000000)
             |      // 1000000 AS BIGINT) AS z
             |  FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.p, sp.y, sp.rn, tr.t + 1,
             |    CAST((200000::HUGEINT * sp.y + 800000::HUGEINT * tr.z)
             |      // 1000000 AS BIGINT)
             |  FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1),
             |lim AS (SELECT g, p, y, z,
             |    CAST(round(3000000.0 * 2000000 / 1000000.0 *
             |      sqrt((200000.0 / (2000000.0 - 200000)) *
             |        (1 - exp(2.0 * t
             |          * ln((1000000 - 200000) / 1000000.0)))))
             |      AS BIGINT) AS hw
             |  FROM tr)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  z AS z_micro,
             |  CAST(5000000 + hw AS BIGINT) AS ucl_micro,
             |  CAST(5000000 - hw AS BIGINT) AS lcl_micro,
             |  (z < 5000000 - hw OR z > 5000000 + hw) AS flag
             |FROM lim ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q324 — Fleiss' kappa (X162, RankStats.fleissKappa): treat each
    // order's first three line items as a 3-rater panel voting a return
    // flag — do line items of one order agree on returns beyond the
    // chance the flag margins predict, per order-parity family? (The
    // panel face of q319's two-rater kappa.) Orders with fewer than 3
    // items drop by the complete-panel rule; the oracle replays cells,
    // both margins, and the three exact-rational chains in HUGEINT.
    Q("q324_fleiss_kappa",
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_linenumber") <= 3)
        val eligible = li.groupBy("l_orderkey")
          .agg(count(lit(1)).as("__c")).filter(col("__c") === 3)
          .select("l_orderkey")
        val panel = li.join(eligible, "l_orderkey")
          .select(concat(lit("f"), pmod(col("l_orderkey"), lit(2)))
            .as("fam"),
            col("l_orderkey").as("u"), col("l_returnflag").as("c"))
        graft.ops.RankStats.fleissKappa(panel, Seq("fam"), col("u"),
            col("c"))
          .orderBy("fam")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_returnflag
             |  FROM lineitem WHERE l_linenumber <= 3),
             |el AS (SELECT l_orderkey FROM li GROUP BY 1
             |  HAVING count(*) = 3),
             |p AS (SELECT 'f' || CAST(l_orderkey % 2 AS VARCHAR) AS fam,
             |    l_orderkey AS u, l_returnflag AS c
             |  FROM li JOIN el USING (l_orderkey)),
             |cells AS (SELECT fam, u, c, count(*) AS nij
             |  FROM p GROUP BY 1, 2, 3),
             |ua AS (SELECT fam, u, sum(nij) AS r,
             |    sum(nij::HUGEINT * nij) AS s2 FROM cells GROUP BY 1, 2),
             |fn AS (SELECT fam, count(*) AS nu, min(r) AS n,
             |    sum(s2) AS s2 FROM ua GROUP BY 1),
             |ca AS (SELECT fam, c, sum(nij) AS cj
             |  FROM cells GROUP BY 1, 2),
             |fb AS (SELECT fam, sum(cj::HUGEINT * cj) AS b,
             |    count(*) AS kc FROM ca GROUP BY 1)
             |SELECT fn.fam AS fam, CAST(nu AS BIGINT) AS n_units,
             |  CAST(n AS BIGINT) AS n_raters,
             |  CAST(kc AS BIGINT) AS k_categories,
             |  CAST((s2 - nu::HUGEINT * n) * 1000000
             |    // (nu::HUGEINT * n * (n - 1)) AS BIGINT) AS pbar_micro,
             |  CAST(b * 1000000
             |    // (nu::HUGEINT * n * nu * n) AS BIGINT) AS pe_micro,
             |  CASE WHEN nu::HUGEINT * n * nu * n > b THEN
             |    CAST(((s2 - nu::HUGEINT * n) * (nu::HUGEINT * n)
             |        * (nu * n) - b * (nu::HUGEINT * n) * (n - 1))
             |      * 1000000
             |      // ((nu::HUGEINT * n) * (n - 1)
             |        * ((nu::HUGEINT * n) * (nu * n) - b)) AS BIGINT)
             |    END AS kappa_micro
             |FROM fn JOIN fb ON fn.fam = fb.fam ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q325 — Theta-method forecast backtest (X163,
    // TimeSeries.thetaBacktest): q280's SES base with the M3 winner's
    // half-slope drift, re-estimated CAUSALLY each step from exact
    // prefix sums (no in-sample leak). The level replays with q280's
    // recursive CTE; the drift needs NO recursion — four cumulative
    // windows over the step index replay it exactly, one truncating
    // division with the half folded into the denominator.
    Q("q325_theta_backtest",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        graft.ops.TimeSeries.thetaBacktest(daily, col("event_type"),
            col("day"), col("y"), alphaMicro = 300000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day AS p,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, p, y,
             |    row_number() OVER (PARTITION BY g ORDER BY p) AS rn
             |  FROM d),
             |pre AS (SELECT g, p, y, rn,
             |    sum(rn) OVER w AS si, sum(y) OVER w AS sy,
             |    sum(rn::HUGEINT * y) OVER w AS siy,
             |    sum(rn::HUGEINT * rn) OVER w AS sii
             |  FROM sp WINDOW w AS (PARTITION BY g ORDER BY rn
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |dr AS (SELECT g, p, y, rn, CASE WHEN rn >= 3 THEN
             |    CAST(((rn - 1)::HUGEINT * siy - si::HUGEINT * sy)
             |      // (2 * ((rn - 1)::HUGEINT * sii - si::HUGEINT * si))
             |      AS BIGINT) ELSE 0 END AS drift
             |  FROM pre),
             |tr AS (SELECT g, p, y, rn, drift,
             |    CAST(NULL AS BIGINT) AS f, CAST(y AS BIGINT) AS l
             |  FROM dr WHERE rn = 1
             |  UNION ALL
             |  SELECT dr.g, dr.p, dr.y, dr.rn, dr.drift,
             |    CAST(tr.l + dr.drift AS BIGINT),
             |    CAST((300000::HUGEINT * dr.y + 700000::HUGEINT * tr.l)
             |      // 1000000 AS BIGINT)
             |  FROM tr JOIN dr ON dr.g = tr.g AND dr.rn = tr.rn + 1)
             |SELECT g AS grp, p, CAST(y AS BIGINT) AS y_micro,
             |  f AS forecast_micro, CAST(y - f AS BIGINT) AS err_micro,
             |  l AS level_micro, CAST(drift AS BIGINT) AS drift_micro
             |FROM tr ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q326 — cumulative gains / lift table (X164, RankStats.gainsTable):
    // the operational view of q320's ranking — act on the top j/10 of
    // token-count-ranked documents per source: what share of the
    // "data"-bearing docs is captured, at what lift over random? Tied
    // score levels share pro-rata (the AUC half-credit convention), the
    // full-depth bucket self-checks at exactly 1e6/1e6. The oracle
    // replays cells, the cumulative window, the depth boundaries, and
    // the floored pico terms in HUGEINT.
    Q("q326_gains_lift",
      (s, dir) => {
        val toks = TextStats.tokens(col("text"))
        graft.ops.RankStats.gainsTable(
            t(s, dir, "documents").select(col("source").as("fam"),
              size(toks).cast("long").as("sc"),
              array_contains(toks, "data").as("l")),
            Seq("fam"), col("sc"), col("l"), buckets = 10)
          .orderBy("fam", "bucket")
      },
      Some(s"""WITH d AS (SELECT source AS fam, len($dTok) AS s,
             |    CASE WHEN list_contains($dTok, 'data') THEN 1 ELSE 0 END
             |      AS y FROM documents),
             |cells AS (SELECT fam, s, count(*) AS cnt, sum(y) AS tp
             |  FROM d GROUP BY 1, 2),
             |cum AS (SELECT *,
             |    sum(cnt) OVER (PARTITION BY fam ORDER BY s DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cn
             |  FROM cells),
             |tot AS (SELECT fam, sum(cnt) AS n, sum(tp) AS p
             |  FROM cells GROUP BY 1),
             |dep AS (SELECT fam, n, p, b.bucket AS bucket,
             |    (b.bucket::HUGEINT * n) // 10 AS depth_rows
             |  FROM tot CROSS JOIN
             |    (SELECT unnest(range(1, 11)) AS bucket) b),
             |tm AS (SELECT dep.fam AS fam, dep.bucket AS bucket,
             |    (tp::HUGEINT
             |      * least(cnt, depth_rows - (cn - cnt))
             |      * 1000000000000) // cnt AS t
             |  FROM cum JOIN dep ON cum.fam = dep.fam
             |  WHERE least(cnt, depth_rows - (cn - cnt)) > 0 AND tp > 0),
             |cap AS (SELECT fam, bucket, sum(t) AS cap
             |  FROM tm GROUP BY 1, 2)
             |SELECT dep.fam AS fam, CAST(dep.bucket AS BIGINT) AS bucket,
             |  CAST(depth_rows AS BIGINT) AS depth_rows,
             |  CASE WHEN p > 0 THEN CAST(coalesce(cap, 0)
             |    // (p::HUGEINT * 1000000) AS BIGINT) END AS gain_micro,
             |  CASE WHEN p > 0 AND depth_rows > 0 THEN
             |    CAST((coalesce(cap, 0) * n)
             |      // (p::HUGEINT * depth_rows * 1000000) AS BIGINT)
             |    END AS lift_micro
             |FROM dep LEFT JOIN cap
             |  ON dep.fam = cap.fam AND dep.bucket = cap.bucket
             |ORDER BY fam, bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q327 — calibration report (X165, Calibrate.calibrationReport):
    // treat the clamped length share min(1, n_chars/2000) as a stated
    // "English-confidence" probability and audit it per source — per
    // probability bin, how far does the observed en-rate sit from the
    // mean stated probability, and what is the Brier score? (The audit
    // face beside q223's isotonic FIT.) The oracle replays the binning,
    // both floors, and the exact squared-error Brier in HUGEINT.
    Q("q327_calibration_report",
      (s, dir) => {
        graft.ops.Calibrate.calibrationReport(
            t(s, dir, "documents").select(col("source").as("fam"),
              least(lit(1000000L),
                expr("n_chars * 1000000 DIV 2000")).as("p"),
              (col("lang") === "en").cast("long").as("y")),
            Seq("fam"), col("p"), col("y"), bins = 10)
          .orderBy("fam", "bin")
      },
      Some("""WITH b AS (SELECT source AS fam,
             |    least(1000000, (n_chars * 1000000) // 2000) AS p,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |bn AS (SELECT fam,
             |    least(9, (p * 10) // 1000000) AS bin, p, y FROM b),
             |ag AS (SELECT fam, bin, count(*) AS n, sum(p::HUGEINT) AS sp,
             |    sum(y) AS sy,
             |    sum((p - y * 1000000)::HUGEINT * (p - y * 1000000)) AS sq
             |  FROM bn GROUP BY 1, 2),
             |tt AS (SELECT fam, sum(n) AS nn, sum(sq) AS ssq
             |  FROM ag GROUP BY 1)
             |SELECT ag.fam AS fam, CAST(bin AS BIGINT) AS bin,
             |  CAST(n AS BIGINT) AS n,
             |  CAST(sp // n AS BIGINT) AS mean_pred_micro,
             |  CAST((sy::HUGEINT * 1000000) // n AS BIGINT)
             |    AS obs_rate_micro,
             |  CAST((sy::HUGEINT * 1000000) // n - sp // n AS BIGINT)
             |    AS gap_micro,
             |  CAST(ssq // (nn::HUGEINT * 1000000) AS BIGINT)
             |    AS brier_micro
             |FROM ag JOIN tt ON ag.fam = tt.fam
             |ORDER BY fam, bin""".stripMargin)),

    // ------------------------------------------------------------------
    // q328 — classical seasonal decomposition (X166,
    // TimeSeries.seasonalDecompose): monthly order volume split into
    // trend + month-of-year seasonal + remainder with the half-weighted
    // 2×12 centered moving average — the readout behind every
    // trend-vs-seasonality chart, all integer micro arithmetic. The
    // oracle replays the window, the per-position index means, the
    // centering, and every truncating division in HUGEINT.
    Q("q328_seasonal_decompose",
      (s, dir) => {
        val monthly = t(s, dir, "orders").groupBy(
            ((year(col("o_orderdate")) - 1992) * 12 +
              month(col("o_orderdate")) - 1).cast("long").as("p"))
          .agg((count(lit(1)) * 1000000L).as("y"))
          .withColumn("g", lit("all"))
        graft.ops.TimeSeries.seasonalDecompose(monthly, col("g"),
            col("p"), col("y"), m = 12)
          .orderBy("p")
      },
      Some("""WITH b AS (SELECT
             |    (year(o_orderdate) - 1992) * 12
             |      + month(o_orderdate) - 1 AS p,
             |    count(*) * 1000000 AS y
             |  FROM orders GROUP BY 1),
             |t AS (SELECT p, y,
             |    lag(y, 6) OVER w AS lo, lead(y, 6) OVER w AS hi,
             |    sum(y::HUGEINT) OVER (ORDER BY p
             |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS mid,
             |    count(*) OVER (ORDER BY p
             |      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn
             |  FROM b WINDOW w AS (ORDER BY p)),
             |tr AS (SELECT p, y, CASE WHEN wn = 13 THEN
             |    CAST((lo + hi + 2 * mid) // 24 AS BIGINT) END AS trend
             |  FROM t),
             |dt AS (SELECT p, y, trend, p % 12 AS pos,
             |    y - trend AS d FROM tr),
             |sb AS (SELECT pos, CAST(sum(d::HUGEINT) // count(*)
             |    AS BIGINT) AS sbar
             |  FROM dt WHERE d IS NOT NULL GROUP BY 1),
             |ad AS (SELECT CAST(sum(sbar::HUGEINT) // 12 AS BIGINT)
             |    AS adj FROM sb)
             |SELECT 'all' AS grp, CAST(p AS BIGINT) AS p,
             |  CAST(y AS BIGINT) AS y_micro,
             |  trend_micro, seasonal_micro,
             |  CAST(y - trend_micro - seasonal_micro AS BIGINT)
             |    AS remainder_micro
             |FROM (SELECT dt.p AS p, dt.y AS y,
             |    CAST(trend AS BIGINT) AS trend_micro,
             |    CAST(sbar - adj AS BIGINT) AS seasonal_micro
             |  FROM dt LEFT JOIN sb USING (pos) CROSS JOIN ad)
             |ORDER BY p""".stripMargin)),

    // ------------------------------------------------------------------
    // q329 — cross-correlation function (X167,
    // TimeSeries.crossCorrelation): does total monthly order volume
    // LEAD the month's urgent-priority volume, and by how many months?
    // — the lead/lag readout beside q313's ACF, full-series
    // normalization so lags compare to each other. The oracle replays
    // the n²-cleared identity per signed lag with consecutive-period
    // self-joins and the stated two-sqrt IEEE chain.
    Q("q329_cross_correlation",
      (s, dir) => {
        val monthly = t(s, dir, "orders").groupBy(
            ((year(col("o_orderdate")) - 1992) * 12 +
              month(col("o_orderdate")) - 1).cast("long").as("p"))
          .agg((count(lit(1)) * 1000000L).as("x"),
            (sum((col("o_orderpriority") === "1-URGENT").cast("long"))
              * 1000000L).as("y"))
          .withColumn("g", lit("all"))
        graft.ops.TimeSeries.crossCorrelation(monthly, col("g"),
            col("p"), col("x"), col("y"), maxLag = 6)
          .orderBy("lag")
      },
      Some("""WITH b AS (SELECT
             |    (year(o_orderdate) - 1992) * 12
             |      + month(o_orderdate) - 1 AS p,
             |    count(*) * 1000000 AS x,
             |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             |      ELSE 0 END) * 1000000 AS y
             |  FROM orders GROUP BY 1),
             |st AS (SELECT count(*) AS n, sum(x::HUGEINT) AS sx,
             |    sum(y::HUGEINT) AS sy, sum(x::HUGEINT * x) AS sxx,
             |    sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * y) AS sxy
             |  FROM b),
             |ks AS (SELECT unnest(range(1, 7)) AS k),
             |pp AS (SELECT ks.k AS lag, sum(a.x::HUGEINT * c.y) AS p2,
             |    sum(a.x::HUGEINT) AS hh, sum(c.y::HUGEINT) AS tt
             |  FROM ks JOIN b a ON true JOIN b c ON c.p = a.p + ks.k
             |  GROUP BY 1),
             |nn AS (SELECT -ks.k AS lag, sum(a.y::HUGEINT * c.x) AS p2,
             |    sum(a.y::HUGEINT) AS hh, sum(c.x::HUGEINT) AS tt
             |  FROM ks JOIN b a ON true JOIN b c ON c.p = a.p + ks.k
             |  GROUP BY 1),
             |al AS (SELECT lag, p2, hh, tt FROM pp
             |  UNION ALL SELECT lag, p2, hh, tt FROM nn
             |  UNION ALL SELECT 0, sxy, sx, sy FROM st),
             |ch AS (SELECT lag, p2, hh, tt, n, sx, sy, sxx, syy,
             |    CASE WHEN lag >= 0 THEN sx ELSE sy END AS sa,
             |    CASE WHEN lag >= 0 THEN sy ELSE sx END AS sb
             |  FROM al CROSS JOIN st)
             |SELECT 'all' AS grp, CAST(lag AS BIGINT) AS lag,
             |  CAST(n AS BIGINT) AS n,
             |  CASE WHEN (n::HUGEINT * sxx - sx * sx) > 0
             |      AND (n::HUGEINT * syy - sy * sy) > 0 THEN
             |    CAST(round(1000000 * CAST(n::HUGEINT * n * p2
             |        - n::HUGEINT * sb * hh - n::HUGEINT * sa * tt
             |        + (n - abs(lag))::HUGEINT * sa * sb AS DOUBLE)
             |      / (CAST(n AS DOUBLE)
             |         * sqrt(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE))
             |         * sqrt(CAST(n::HUGEINT * syy - sy * sy
             |             AS DOUBLE)))) AS BIGINT) END AS r_micro
             |FROM ch ORDER BY lag""".stripMargin)),

    // ------------------------------------------------------------------
    // q330 — categorical diversity report (X168, Ops.diversityReport):
    // how concentrated is each language's SOURCE mix — Shannon entropy,
    // unbiased Gini-Simpson, effective source count, top-source share —
    // the data-mixing audit beside q104's PSI (which only says the mix
    // moved) and q318's goodness-of-fit (which needs a declared
    // target). The oracle replays the per-cell entropy chain, the exact
    // Simpson rational, and both floor presentations in HUGEINT.
    Q("q330_diversity_report",
      (s, dir) => {
        graft.ops.Ops.diversityReport(
            t(s, dir, "documents").select(col("lang"), col("source")),
            Seq("lang"), col("source"))
          .orderBy("lang")
      },
      Some("""WITH cells AS (SELECT lang,
             |    coalesce(source, '(null)') AS l, count(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT lang, sum(c) AS n, count(*) AS k
             |  FROM cells GROUP BY 1),
             |tm AS (SELECT cells.lang AS lang,
             |    CAST(round(1000000 * c
             |      * ln(CAST(n AS DOUBLE) / c)) AS BIGINT) AS g,
             |    c::HUGEINT * (c - 1) AS s2, c
             |  FROM cells JOIN tot USING (lang)),
             |ag AS (SELECT lang, sum(g::HUGEINT) AS gg,
             |    sum(s2) AS ss2, max(c) AS tp FROM tm GROUP BY 1)
             |SELECT tot.lang AS lang, CAST(n AS BIGINT) AS n,
             |  CAST(k AS BIGINT) AS k_levels,
             |  CAST(gg // n AS BIGINT) AS entropy_micro,
             |  CASE WHEN n >= 2 THEN CAST(1000000
             |    - (ss2 * 1000000) // (n::HUGEINT * (n - 1)) AS BIGINT)
             |    END AS simpson_micro,
             |  CAST(round(1000000 * exp(CAST(gg // n AS DOUBLE) / 1e6))
             |    AS BIGINT) AS eff_levels_micro,
             |  CAST((tp::HUGEINT * 1000000) // n AS BIGINT)
             |    AS top_share_micro
             |FROM tot JOIN ag USING (lang) ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q331 — per-seed harmonic centrality (X169,
    // Graph.harmonicCentrality): how close are the five candidate part
    // hubs to the whole part↔supplier graph — Σ 1/d with unreachable
    // nodes contributing exactly 0, the disconnection-correct closeness
    // (Boldi & Vigna). One (seed, node)-keyed BFS loop, per-distance
    // integer floors. The oracle replays the bounded BFS as a recursive
    // CTE, min-settles distances, and re-sums the floored terms.
    Q("q331_harmonic_centrality",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        val seeds = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.harmonicCentrality(edges, seeds, maxDepth = 10,
            undirected = true)
          .orderBy("seed")
      },
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst
             |    FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10 FROM lineitem)),
             |sd AS (SELECT DISTINCT p_partkey * 10 AS seed FROM part
             |  WHERE p_partkey <= 5),
             |bfs AS (
             |  SELECT seed, seed AS id, 0 AS dist FROM sd
             |  UNION
             |  SELECT bfs.seed, e.dst AS id, bfs.dist + 1
             |  FROM bfs JOIN e ON e.src = bfs.id
             |  WHERE bfs.dist < 10),
             |mind AS (SELECT seed, id, min(dist) AS dist
             |  FROM bfs GROUP BY 1, 2),
             |ag AS (SELECT seed, sum(c) AS nr,
             |    sum(c * (1000000 // dist)) AS h FROM (
             |    SELECT seed, dist, count(*) AS c FROM mind
             |    WHERE dist > 0 GROUP BY 1, 2) GROUP BY 1)
             |SELECT CAST(sd.seed AS BIGINT) AS seed,
             |  CAST(coalesce(nr, 0) AS BIGINT) AS n_reached,
             |  CAST(coalesce(h, 0) AS BIGINT) AS harmonic_micro
             |FROM sd LEFT JOIN ag ON sd.seed = ag.seed
             |ORDER BY seed""".stripMargin)),

    // ------------------------------------------------------------------
    // q332 — embedding distribution drift (X170,
    // Similarity.embeddingDrift): did the embedding space move between
    // the even- and odd-id halves of the corpus, per label? — centroid
    // cosine + per-side dispersion on exact integer-micro sums (a
    // distributed float sum is order-dependent; the micro pin is what
    // makes the report hashable). The oracle replays the element pin,
    // the per-dimension HUGEINT sums, the per-row dot chains, and the
    // integer dispersion means.
    Q("q332_embedding_drift",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.sim.Similarity.embeddingDrift(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            emb.filter(pmod(col("vec_id"), lit(2)) === 1),
            Seq("label"), col("vec_id"), col("embedding"))
          .orderBy("label")
      },
      Some("""WITH b AS (SELECT label AS fam,
             |    CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS side,
             |    vec_id AS rid,
             |    [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             |      FOR x IN embedding] AS vm
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |ex AS (SELECT fam, side, rid,
             |    generate_subscripts(vm, 1) AS dim, unnest(vm) AS e
             |  FROM b),
             |cent AS (SELECT fam, side, dim, sum(e::HUGEINT) AS s
             |  FROM ex GROUP BY 1, 2, 3),
             |norms AS (SELECT fam, side, sum(s * s) AS n2
             |  FROM cent GROUP BY 1, 2),
             |cr AS (SELECT c0.fam AS fam, sum(c0.s * c1.s) AS dt
             |  FROM cent c0 JOIN cent c1
             |    ON c0.fam = c1.fam AND c0.dim = c1.dim
             |    AND c0.side = 0 AND c1.side = 1
             |  GROUP BY 1),
             |rowa AS (SELECT ex.fam AS fam, ex.side AS side, rid,
             |    sum(e::HUGEINT * s) AS vd, sum(e::HUGEINT * e) AS vv
             |  FROM ex JOIN cent ON ex.fam = cent.fam
             |    AND ex.side = cent.side AND ex.dim = cent.dim
             |  GROUP BY 1, 2, 3),
             |rc AS (SELECT rowa.fam AS fam, rowa.side AS side,
             |    CAST(round(1000000 * CAST(vd AS DOUBLE)
             |      / (sqrt(CAST(vv AS DOUBLE))
             |         * sqrt(CAST(n2 AS DOUBLE)))) AS BIGINT) AS cr2
             |  FROM rowa JOIN norms ON rowa.fam = norms.fam
             |    AND rowa.side = norms.side
             |  WHERE vd IS NOT NULL AND vv > 0 AND n2 > 0),
             |disp AS (SELECT fam, side,
             |    CAST(sum(cr2::HUGEINT) // count(*) AS BIGINT) AS dp
             |  FROM rc GROUP BY 1, 2),
             |cen AS (SELECT fam, side, count(*) AS n
             |  FROM b GROUP BY 1, 2),
             |dm AS (SELECT fam, max(len(vm)) AS dims FROM b GROUP BY 1)
             |SELECT dm.fam AS label,
             |  CAST(coalesce(n0.n, 0) AS BIGINT) AS n_old,
             |  CAST(coalesce(n1.n, 0) AS BIGINT) AS n_new,
             |  CAST(dims AS BIGINT) AS dims,
             |  CASE WHEN m0.n2 > 0 AND m1.n2 > 0 THEN
             |    CAST(round(1000000 * CAST(dt AS DOUBLE)
             |      / (sqrt(CAST(m0.n2 AS DOUBLE))
             |         * sqrt(CAST(m1.n2 AS DOUBLE)))) AS BIGINT) END
             |    AS centroid_cos_micro,
             |  d0.dp AS disp_old_micro, d1.dp AS disp_new_micro,
             |  CAST(d1.dp - d0.dp AS BIGINT) AS disp_shift_micro
             |FROM dm
             |LEFT JOIN cen n0 ON dm.fam = n0.fam AND n0.side = 0
             |LEFT JOIN cen n1 ON dm.fam = n1.fam AND n1.side = 1
             |LEFT JOIN norms m0 ON dm.fam = m0.fam AND m0.side = 0
             |LEFT JOIN norms m1 ON dm.fam = m1.fam AND m1.side = 1
             |LEFT JOIN cr ON dm.fam = cr.fam
             |LEFT JOIN disp d0 ON dm.fam = d0.fam AND d0.side = 0
             |LEFT JOIN disp d1 ON dm.fam = d1.fam AND d1.side = 1
             |ORDER BY label""".stripMargin)),

    // ------------------------------------------------------------------
    // q333 — partial autocorrelation via Durbin-Levinson (X171,
    // TimeSeries.pacf): the AR-order half of Box-Jenkins identification
    // over q313's monthly order counts — pacf(1) = r1 bit-exact, deeper
    // lags from the stated IEEE recursion over the exact ACF integers.
    // The oracle reuses q313's n²-cleared ACF replay verbatim, then
    // runs the SAME recursion as one recursive CTE carrying the φ list
    // (dot products ascending, dot-then-subtract — the stated order).
    Q("q333_pacf",
      (s, dir) => {
        val b = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("g"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .as("p"))
          .agg(count(lit(1)).as("y"))
        graft.ops.TimeSeries.pacf(b, col("g"), col("p"), col("y"),
            maxLag = 6)
          .orderBy("grp", "lag")
      },
      Some("""WITH RECURSIVE b AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS g,
             |    year(o_orderdate) * 12 + month(o_orderdate) AS p,
             |    count(*) AS y
             |  FROM orders GROUP BY 1, 2),
             |st AS (SELECT g, count(*) AS n, sum(y::HUGEINT) AS s,
             |    sum(y::HUGEINT * y) AS s2 FROM b GROUP BY 1),
             |lp AS (SELECT a.g, l.k AS lag,
             |    sum(a.y::HUGEINT * c.y) AS pk,
             |    sum(a.y::HUGEINT) AS hk, sum(c.y::HUGEINT) AS tk
             |  FROM b a
             |  JOIN (VALUES (1), (2), (3), (4), (5), (6)) l(k) ON true
             |  JOIN b c ON c.g = a.g AND c.p = a.p + l.k
             |  GROUP BY 1, 2),
             |r AS (SELECT lp.g AS g, lag,
             |    CAST(round(1000000
             |      * CAST(n::HUGEINT * n * pk - n::HUGEINT * s * (hk + tk)
             |          + (n::HUGEINT - lag) * s * s AS DOUBLE)
             |      / CAST(n::HUGEINT * n * s2 - n::HUGEINT * s * s
             |          AS DOUBLE)) AS BIGINT) AS r_micro
             |  FROM lp JOIN st USING (g)),
             |rl AS (SELECT g, list(r_micro ORDER BY lag) AS rm
             |  FROM r GROUP BY g),
             |rl2 AS (SELECT g, rm, [x / 1000000.0 FOR x IN rm] AS rs,
             |    len(rm) AS kmax FROM rl),
             |dl AS (
             |  SELECT g, 1 AS k, [rs[1]] AS phi, rs, kmax,
             |    rm[1] AS pm
             |  FROM rl2
             |  UNION ALL
             |  SELECT g, k + 1,
             |    [phi[j] - kk * phi[k + 1 - j] FOR j IN range(1, k + 1)]
             |      || [kk],
             |    rs, kmax, CAST(round(1000000 * kk) AS BIGINT)
             |  FROM (
             |    SELECT g, k, phi, rs, kmax,
             |      (rs[k + 1]
             |        - list_dot_product(phi, list_reverse(rs[1:k])))
             |      / (1 - list_dot_product(phi, rs[1:k])) AS kk
             |    FROM dl WHERE k < kmax))
             |SELECT g AS grp, CAST(k AS INTEGER) AS lag,
             |  pm AS pacf_micro
             |FROM dl ORDER BY grp, lag""".stripMargin)),

    // ------------------------------------------------------------------
    // q334 — proportion report with Wilson intervals (X172,
    // Ops.proportionReport): the per-source rate of "data"-bearing
    // documents with the error bars q320's prevalence lacks — Wilson
    // because Wald collapses at the extreme rates small segments live
    // at; both bounds provably inside (0,1), z stated as a micro
    // literal. The oracle replays the exact counts, the rate floor, and
    // the IEEE bound chains op for op.
    Q("q334_proportion_wilson",
      (s, dir) => {
        val toks = TextStats.tokens(col("text"))
        graft.ops.Ops.proportionReport(
            t(s, dir, "documents").select(col("source").as("fam"),
              array_contains(toks, "data").as("l")),
            Seq("fam"), col("l"))
          .orderBy("fam")
      },
      Some(s"""WITH d AS (SELECT source AS fam,
             |    CASE WHEN list_contains($dTok, 'data') THEN 1 ELSE 0 END
             |      AS y FROM documents),
             |a AS (SELECT fam, count(*) AS n, sum(y) AS k
             |  FROM d GROUP BY 1)
             |SELECT fam, CAST(n AS BIGINT) AS n,
             |  CAST(k AS BIGINT) AS k_pos,
             |  CAST((k::HUGEINT * 1000000) // n AS BIGINT) AS rate_micro,
             |  CAST(round(1000000 * (
             |    (CAST(k AS DOUBLE) + (1959964.0 * 1959964.0 / 1e12) / 2)
             |      / (CAST(n AS DOUBLE) + (1959964.0 * 1959964.0 / 1e12))
             |    - 1.959964 * sqrt(CAST(k AS DOUBLE)
             |        * (CAST(n AS DOUBLE) - k) / n
             |        + (1959964.0 * 1959964.0 / 1e12) / 4)
             |      / (CAST(n AS DOUBLE)
             |         + (1959964.0 * 1959964.0 / 1e12)))) AS BIGINT)
             |    AS wilson_lo_micro,
             |  CAST(round(1000000 * (
             |    (CAST(k AS DOUBLE) + (1959964.0 * 1959964.0 / 1e12) / 2)
             |      / (CAST(n AS DOUBLE) + (1959964.0 * 1959964.0 / 1e12))
             |    + 1.959964 * sqrt(CAST(k AS DOUBLE)
             |        * (CAST(n AS DOUBLE) - k) / n
             |        + (1959964.0 * 1959964.0 / 1e12) / 4)
             |      / (CAST(n AS DOUBLE)
             |         + (1959964.0 * 1959964.0 / 1e12)))) AS BIGINT)
             |    AS wilson_hi_micro
             |FROM a ORDER BY fam""".stripMargin)),

    // ------------------------------------------------------------------
    // q335 — Friedman post-hoc, composed (X173,
    // RankStats.friedmanPostHoc): q304's blocked design with a planted
    // two-cluster treatment effect (priorities 1-2 shifted +8e7
    // cents), pushed through all three stages — the omnibus, pairwise
    // signed-rank over the SAME complete blocks, and the X131 BH
    // screen across the 10 pairs — emitting the (pair, W, z, p,
    // rejected) table a practitioner publishes. The oracle replays
    // every stage: the complete-block filter, the per-pair doubled
    // midranks and tie-corrected z, the Pólya p chain, and the BH
    // step-up with tie-consistent ranks.
    Q("q335_friedman_posthoc",
      (s, dir) => {
        val cellsDf = t(s, dir, "orders").groupBy(
            concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
            pmod(col("o_custkey"), lit(300)).as("blk"),
            col("o_orderpriority").as("trt"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("v", col("cents") +
            when(substring(col("trt"), 1, 1) <= "2", 80000000L)
              .otherwise(0L))
        graft.ops.RankStats.friedmanPostHoc(cellsDf, Seq("fam"),
            col("blk"), col("trt"), col("v"), alphaMicro = 200000L)
          .orderBy("fam", "treat_a", "treat_b")
      },
      Some("""WITH cells AS (SELECT
             |    'f' || CAST(o_custkey % 2 AS VARCHAR) AS fam,
             |    o_custkey % 300 AS blk, o_orderpriority AS trt,
             |    sum(CAST(trunc(o_totalprice * 100) AS BIGINT))
             |      + CASE WHEN substr(o_orderpriority, 1, 1) <= '2'
             |        THEN 80000000 ELSE 0 END AS v
             |  FROM orders GROUP BY 1, 2, 3),
             |ks AS (SELECT fam, count(DISTINCT trt) AS k
             |  FROM cells GROUP BY 1),
             |bs AS (SELECT fam, blk, count(*) AS bc FROM cells
             |  GROUP BY 1, 2),
             |comp AS (SELECT c.fam, c.blk, c.trt, c.v
             |  FROM cells c JOIN bs ON bs.fam = c.fam AND bs.blk = c.blk
             |  JOIN ks ON ks.fam = c.fam
             |  WHERE bs.bc = ks.k),
             |frk AS (SELECT fam, blk, trt,
             |    2 * coalesce(count(*) OVER (PARTITION BY fam, blk
             |      ORDER BY v
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    + count(*) OVER (PARTITION BY fam, blk ORDER BY v
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS dr
             |  FROM comp),
             |fpt AS (SELECT fam, trt, sum(dr::HUGEINT) AS rd
             |  FROM frk GROUP BY 1, 2),
             |fpf AS (SELECT fam, count(*) AS k_treatments,
             |    sum(rd * rd) AS sd FROM fpt GROUP BY 1),
             |fad AS (SELECT fam, count(DISTINCT blk) AS n_blocks,
             |    sum(dr::HUGEINT * dr) AS ad FROM frk GROUP BY 1),
             |omni AS (SELECT fpf.fam,
             |  CASE WHEN k_treatments >= 2 AND CAST(ad AS DOUBLE)
             |      - CAST(n_blocks AS DOUBLE) * k_treatments
             |        * (k_treatments + 1) * (k_treatments + 1) <> 0.0 THEN
             |    CAST(round((k_treatments - 1) *
             |      (CAST(sd AS DOUBLE) - CAST(n_blocks AS DOUBLE)
             |         * n_blocks * k_treatments * (k_treatments + 1)
             |         * (k_treatments + 1))
             |      / (CAST(ad AS DOUBLE) - CAST(n_blocks AS DOUBLE)
             |         * k_treatments * (k_treatments + 1)
             |         * (k_treatments + 1))
             |      * 1000000) AS BIGINT) END AS chi2_micro
             |  FROM fpf JOIN fad ON fad.fam = fpf.fam),
             |pr AS (SELECT a.fam, a.trt AS ta, b.trt AS tb, a.blk,
             |    a.v - b.v AS d
             |  FROM comp a JOIN comp b
             |    ON a.fam = b.fam AND a.blk = b.blk AND a.trt < b.trt),
             |cz AS (SELECT fam, ta, tb,
             |    sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS n_zeros
             |  FROM pr GROUP BY 1, 2, 3),
             |wc AS (SELECT fam, ta, tb, abs(d) AS ad2, d > 0 AS pos,
             |    count(*) AS c
             |  FROM pr WHERE d <> 0 GROUP BY 1, 2, 3, 4, 5),
             |wrk AS (SELECT fam, ta, tb, ad2, pos, c,
             |    2 * coalesce(sum(c) OVER (PARTITION BY fam, ta, tb
             |      ORDER BY ad2
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    + sum(c) OVER (PARTITION BY fam, ta, tb ORDER BY ad2
             |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS dr
             |  FROM wc),
             |wpf AS (SELECT fam, ta, tb, sum(c) AS n_pairs,
             |    sum(CASE WHEN pos THEN c::HUGEINT * dr ELSE 0 END) AS w2
             |  FROM wrk GROUP BY 1, 2, 3),
             |wtt AS (SELECT fam, ta, tb, sum(t::HUGEINT * t * t - t)
             |    AS tie
             |  FROM (SELECT fam, ta, tb, ad2, sum(c) AS t FROM wc
             |        GROUP BY 1, 2, 3, 4)
             |  GROUP BY 1, 2, 3),
             |wz AS (SELECT cz.fam, cz.ta, cz.tb,
             |    CAST(coalesce(wpf.n_pairs, 0) AS BIGINT) AS n_pairs,
             |    CAST(cz.n_zeros AS BIGINT) AS n_zeros,
             |    CAST(wpf.w2 AS BIGINT) AS w2,
             |    CASE WHEN wpf.n_pairs >= 1 THEN CAST(round(1000000 *
             |      (CAST(wpf.w2 AS DOUBLE)
             |        - CAST(wpf.n_pairs * (wpf.n_pairs + 1) // 2
             |            AS DOUBLE))
             |      / sqrt(CAST(2 * wpf.n_pairs::HUGEINT
             |          * (wpf.n_pairs + 1) * (2 * wpf.n_pairs + 1)
             |          - wtt.tie AS DOUBLE) / 12.0)) AS BIGINT)
             |      END AS z_micro
             |  FROM cz LEFT JOIN wpf USING (fam, ta, tb)
             |  LEFT JOIN wtt USING (fam, ta, tb)),
             |wp AS (SELECT *,
             |    CASE WHEN z_micro IS NOT NULL THEN
             |      CAST(round(1000000 * (1.0 - sqrt(1.0
             |        - exp(-2.0 * (CAST(z_micro AS DOUBLE) / 1e6)
             |              * (CAST(z_micro AS DOUBLE) / 1e6) / pi()))))
             |        AS BIGINT) END AS p_micro
             |  FROM wz),
             |brk AS (SELECT fam, ta, tb, n_pairs, n_zeros, w2, z_micro,
             |    p_micro,
             |    row_number() OVER (PARTITION BY fam ORDER BY p_micro)
             |      AS j,
             |    count(*) OVER (PARTITION BY fam ORDER BY p_micro
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS bh_rank,
             |    count(*) OVER (PARTITION BY fam) AS m
             |  FROM wp WHERE p_micro IS NOT NULL),
             |bks AS (SELECT fam,
             |    max(CASE WHEN p_micro * m <= j * 200000 THEN j END)
             |      AS kstar
             |  FROM brk GROUP BY fam)
             |SELECT brk.fam, brk.ta AS treat_a, brk.tb AS treat_b,
             |  omni.chi2_micro, brk.n_pairs, brk.n_zeros, brk.w2,
             |  brk.z_micro, brk.p_micro,
             |  CAST(brk.bh_rank AS BIGINT) AS bh_rank,
             |  CAST(brk.m AS BIGINT) AS m_tests,
             |  coalesce(brk.bh_rank <= bks.kstar, false) AS rejected
             |FROM brk JOIN omni ON omni.fam = brk.fam
             |LEFT JOIN bks ON bks.fam = brk.fam
             |ORDER BY brk.fam, treat_a, treat_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q336 — Aalen-Johansen competing-risks cumulative incidence (X174,
    // Survival.aalenJohansen): order lifetimes by quarter with the
    // order status as the competing cause (F=1, P=2, O=censored) — the
    // all-cause KM runs the q261 recursion, each step's survival drop
    // is apportioned among that step's causes by telescoped floors (so
    // Σ CIF + S = 1e6 exactly, the published self-check), and every
    // cause carries its running CIF. The oracle replays the recursion,
    // the lag-drop, the cause-ordered apportionment, and the per-cause
    // cumulative sum.
    Q("q336_aalen_johansen",
      (s, dir) => {
        val subj = t(s, dir, "orders").select(
          concat(lit("g"), pmod(col("o_custkey"), lit(2))).as("g"),
          expr("((year(o_orderdate) - 1992) * 12 + " +
            "month(o_orderdate) - 1) DIV 3").as("dur"),
          when(col("o_orderstatus") === "F", 1L)
            .when(col("o_orderstatus") === "P", 2L)
            .otherwise(0L).as("cause"))
        graft.ops.Survival.aalenJohansen(subj, col("g"), col("dur"),
            col("cause"))
          .orderBy("grp", "t", "cause")
      },
      Some("""WITH RECURSIVE b AS (SELECT
             |    'g' || CAST(o_custkey % 2 AS VARCHAR) AS g,
             |    ((year(o_orderdate) - 1992) * 12
             |      + month(o_orderdate) - 1) // 3 AS t,
             |    CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'P' THEN 2
             |      ELSE 0 END AS k
             |  FROM orders),
             |cells AS (SELECT g, t, k, count(*) AS c FROM b
             |  GROUP BY 1, 2, 3),
             |st AS (SELECT g, t,
             |    sum(CASE WHEN k > 0 THEN c ELSE 0 END) AS dall,
             |    sum(c) AS al
             |  FROM cells GROUP BY 1, 2),
             |wk AS (SELECT g, t, dall,
             |    sum(al) OVER (PARTITION BY g)
             |      - coalesce(sum(al) OVER (PARTITION BY g ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND 1 PRECEDING), 0) AS n
             |  FROM st),
             |sp AS (SELECT g, t, n, dall,
             |    row_number() OVER (PARTITION BY g ORDER BY t) AS rn
             |  FROM wk WHERE dall > 0),
             |km AS (SELECT g, t, n, dall, rn,
             |    1000000 * (n - dall) // n AS s FROM sp WHERE rn = 1
             |  UNION ALL
             |  SELECT sp.g, sp.t, sp.n, sp.dall, sp.rn,
             |    km.s * (sp.n - sp.dall) // sp.n
             |  FROM km JOIN sp ON sp.g = km.g AND sp.rn = km.rn + 1),
             |dr AS (SELECT g, t, n, dall, s,
             |    coalesce(lag(s) OVER (PARTITION BY g ORDER BY rn),
             |      1000000) - s AS drp
             |  FROM km),
             |sh0 AS (SELECT c.g, c.t, c.k, c.c, dr.n, dr.dall, dr.s,
             |    dr.drp,
             |    sum(c.c) OVER (PARTITION BY c.g, c.t ORDER BY c.k)
             |      AS cum
             |  FROM cells c JOIN dr ON dr.g = c.g AND dr.t = c.t
             |  WHERE c.k > 0),
             |sh AS (SELECT g, t, k, n, c, dall, s,
             |    (drp::HUGEINT * cum) // dall
             |      - (drp::HUGEINT * (cum - c)) // dall AS share
             |  FROM sh0),
             |cf AS (SELECT g, t, k, n, c, dall, s,
             |    sum(share) OVER (PARTITION BY g, k ORDER BY t) AS cif
             |  FROM sh)
             |SELECT g AS grp, CAST(t AS BIGINT) AS t,
             |  CAST(k AS BIGINT) AS cause, CAST(n AS BIGINT) AS n_risk,
             |  CAST(c AS BIGINT) AS d_cause, CAST(dall AS BIGINT) AS d_all,
             |  CAST(s AS BIGINT) AS s_micro, CAST(cif AS BIGINT) AS cif_micro
             |FROM cf ORDER BY grp, t, cause""".stripMargin)),

    // ------------------------------------------------------------------
    // q337 — multiplicative Holt-Winters backtest (X175,
    // TimeSeries.holtWintersMultBacktest): q288's daily event-count
    // fixture under the ETS(A,A,M) form — ratio seasonal slots, every
    // seasonal interaction one truncating integer DIV (deseasonalize,
    // forecast, seasonal update). The oracle replays the warm-up (l0 =
    // Σ//7, s_i = y_i·1e6//l0) and all three coupled recurrences in
    // one recursive CTE carrying the 7-slot ring as a list.
    Q("q337_holt_winters_mult",
      (s, dir) => {
        val daily = Relational.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .agg((count(lit(1)) * 1000000L).as("y"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        val idx = daily.withColumn("p0", row_number().over(w))
        graft.ops.TimeSeries.holtWintersMultBacktest(idx,
            col("event_type"), col("p0"), col("y"), m = 7,
            alphaMicro = 300000L, betaMicro = 100000L,
            gammaMicro = 200000L)
          .orderBy("grp", "p")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |d AS (SELECT event_type AS g, day,
             |    count(*) * 1000000 AS y FROM e GROUP BY 1, 2),
             |sp AS (SELECT g, y,
             |    row_number() OVER (PARTITION BY g ORDER BY day) AS rn
             |  FROM d),
             |warm AS (SELECT g, CAST(sum(y) // 7 AS BIGINT) AS l0,
             |    list(CAST(y AS BIGINT) ORDER BY rn) AS ys
             |  FROM sp WHERE rn <= 7 GROUP BY g HAVING count(*) = 7),
             |tr AS (
             |  SELECT g, CAST(7 AS BIGINT) AS rn, l0 AS l,
             |    CAST(0 AS BIGINT) AS b,
             |    list_transform(ys, y ->
             |      CAST((y::HUGEINT * 1000000) // l0 AS BIGINT)) AS sl
             |  FROM warm
             |  UNION ALL
             |  SELECT g, rn, l2,
             |    CAST((100000::HUGEINT * (l2 - l1) + 900000::HUGEINT * b1)
             |      // 1000000 AS BIGINT),
             |    list_append(sl1[2:],
             |      CAST((200000::HUGEINT * ((y::HUGEINT * 1000000) // l2)
             |        + 800000::HUGEINT * s1) // 1000000 AS BIGINT))
             |  FROM (
             |    SELECT sp.g, sp.rn, sp.y, tr.l AS l1, tr.b AS b1,
             |      tr.sl AS sl1, tr.sl[1] AS s1,
             |      CAST((300000::HUGEINT
             |          * ((sp.y::HUGEINT * 1000000) // tr.sl[1])
             |        + 700000::HUGEINT * (tr.l + tr.b)) // 1000000
             |        AS BIGINT) AS l2
             |    FROM tr JOIN sp ON sp.g = tr.g AND sp.rn = tr.rn + 1))
             |SELECT sp.g AS grp, sp.rn AS p, CAST(sp.y AS BIGINT) AS y_micro,
             |  CASE WHEN sp.rn > 7 THEN
             |    CAST(((pv.l + pv.b)::HUGEINT * pv.sl[1]) // 1000000
             |      AS BIGINT) END AS forecast_micro,
             |  CASE WHEN sp.rn > 7 THEN
             |    CAST(sp.y - ((pv.l + pv.b)::HUGEINT * pv.sl[1]) // 1000000
             |      AS BIGINT) END AS err_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.l END AS level_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.b END AS trend_micro,
             |  CASE WHEN sp.rn > 7 THEN cur.sl[7] END AS season_micro
             |FROM sp
             |LEFT JOIN tr pv ON pv.g = sp.g AND pv.rn = sp.rn - 1
             |LEFT JOIN tr cur ON cur.g = sp.g AND cur.rn = sp.rn
             |ORDER BY grp, p""".stripMargin)),

    // ------------------------------------------------------------------
    // q338 — sampled betweenness centrality (X176,
    // Graph.betweennessSampled): q331's undirected part↔supplier graph
    // asked the BROKERAGE question from the same five seed parts —
    // k-source Brandes with exact integer path counts forward and
    // floored micro dependencies backward, horizon 4 (stated
    // truncated-horizon semantics). The oracle unrolls both passes
    // level by level (the q309 pattern): four forward σ-sum levels
    // with anti-joins, then the dependency floors walked back up, and
    // the per-node rollup over seeds.
    Q("q338_betweenness_sampled",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val edges = li.select((col("l_partkey") * 10).as("src"),
          (col("l_suppkey") * 10 + 1).as("dst"))
        val seeds = t(s, dir, "part").filter(col("p_partkey") <= 5)
          .select((col("p_partkey") * 10).as("id"))
        graft.ops.Graph.betweennessSampled(edges, seeds, maxDepth = 4,
            undirected = true)
          .orderBy("id")
      },
      Some(s"""WITH e AS (SELECT DISTINCT src, dst FROM (
             |    SELECT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst
             |    FROM lineitem
             |    UNION ALL
             |    SELECT l_suppkey * 10 + 1, l_partkey * 10
             |    FROM lineitem)),
             |sd AS (SELECT p_partkey * 10 AS id FROM part
             |       WHERE p_partkey <= 5),
             |f0 AS (SELECT id AS seed, id, 1::HUGEINT AS sigma FROM sd),
             |v0 AS (SELECT seed, id FROM f0),
             |$dBetweennessIters,
             |bt AS (SELECT id, sum(delta) AS btw FROM (
             |    SELECT seed, id, delta FROM dl1
             |    UNION ALL SELECT seed, id, delta FROM dl2
             |    UNION ALL SELECT seed, id, delta FROM dl3
             |    UNION ALL SELECT seed, id, delta FROM dl4)
             |  GROUP BY id)
             |SELECT id, CAST(btw AS BIGINT) AS betweenness_micro
             |FROM bt ORDER BY id""".stripMargin))
  )

  /** q148/q150's shared shingle stream: word-3-grams of the four sketched
    * sources, with doc_id carried for q150's batch split. */
  private def kmvGrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .select(col("doc_id"), col("source"),
        explode(TextStats.shingles(col("text"), 3)).as("sh"))

  /** Shared Gopher-rule component CTEs (expect a preceding CTE `tk` with
    * (doc_id, text, tk)) — the ONE definition of the rule arithmetic,
    * consumed by q145/q156 (per-rule surface) and q152 (keep gate), so the
    * oracles cannot drift. Parameterized on the stopword list like the
    * operator (the one corpus-relative rule). Emits TWO CTEs: `rep` (the
    * per-doc top-2-gram character coverage, replayed relationally — unnest
    * grams, count, rank by (count DESC, gram) matching the operator's
    * smallest-gram tie-break) and `st` (every per-rule statistic,
    * including the duplicate-line counters over `[ \t]`-blank-stripped
    * lines). */
  private def dGopherSt(stopwords: Seq[String]): String = {
    val lst = stopwords.map(w => s"'${w.toLowerCase}'").mkString(", ")
    s"""rep AS (
       |  SELECT doc_id, c * len(g) AS topchars FROM (
       |    SELECT doc_id, g, c,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
       |    FROM (SELECT doc_id, g, count(*) AS c
       |          FROM (SELECT doc_id,
       |                  unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS g
       |                FROM tk WHERE len(tk) >= 2)
       |          GROUP BY doc_id, g
       |          HAVING count(*) >= 2))
       |  WHERE rn = 1),
       |st AS (SELECT tkx.doc_id, len(tk) AS n,
       |  CASE WHEN len(tk) = 0 THEN 0.0
       |       ELSE CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE) / len(tk) END AS meanlen,
       |  (len(text) - len(replace(text, '#', ''))) + (len(text) - len(replace(text, '…', ''))) AS syms,
       |  len(string_split(text, chr(10))) AS nl,
       |  len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^[ \\t]*[-*•]'))) AS bullets,
       |  len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS ells,
       |  len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
       |  len(list_intersect(list_transform(tk, w -> lower(w)),
       |      [$lst])) AS stops,
       |  len(text) AS textlen,
       |  coalesce(rep.topchars, 0) AS topchars,
       |  len(nbl) AS nbl, len(list_distinct(nbl)) AS nbd,
       |  coalesce(list_sum(list_transform(nbl, l -> len(l))), 0) AS nbchars,
       |  coalesce(list_sum(list_transform(list_distinct(nbl), l -> len(l))), 0) AS nbdchars
       | FROM (SELECT *, list_filter(string_split(text, chr(10)),
       |         l -> len(regexp_replace(l, '^[ \\t]+|[ \\t]+$$', '', 'g')) > 0) AS nbl
       |       FROM tk) tkx
       | LEFT JOIN rep ON rep.doc_id = tkx.doc_id)""".stripMargin
  }

  // The three Table A1 repetition rules over [[dGopherSt]]'s columns —
  // thresholds are gopherFlags' defaults (0.3 / 0.2 / 0.2), shared by the
  // q145/q156 per-rule selects and [[dGopherKeep]]. lazy: referenced while
  // `queries` above initializes (the mixRates declaration-order rule).
  private lazy val dOkDupLines =
    "(nbl = 0 OR CAST(nbl - nbd AS DOUBLE) / nbl <= 0.3)"
  private lazy val dOkDupLineChars =
    "(nbchars = 0 OR CAST(nbchars - nbdchars AS DOUBLE) / nbchars <= 0.2)"
  private lazy val dOkTopNgram =
    "(textlen = 0 OR CAST(topchars AS DOUBLE) / textlen <= 0.2)"

  /** The Gopher keep conjunction over [[dGopherSt]]'s columns. */
  private def dGopherKeep(minWords: Int): String =
    s"((n >= $minWords AND n <= 100000)" +
      " AND (meanlen >= 3.0 AND meanlen <= 10.0)" +
      " AND (CASE WHEN n = 0 THEN 0.0 ELSE CAST(syms AS DOUBLE) / n END <= 0.1)" +
      " AND (nl = 0 OR CAST(bullets AS DOUBLE) / nl <= 0.9)" +
      " AND (nl = 0 OR CAST(ells AS DOUBLE) / nl <= 0.3)" +
      " AND (n > 0 AND CAST(alpha AS DOUBLE) / n >= 0.8)" +
      " AND (stops >= 2)" +
      s" AND $dOkDupLines AND $dOkDupLineChars AND $dOkTopNgram)"

  /** The ONE oracle for the near-dup lifecycle — hist = doc_id < 300,
    * batch 1 = [300, 450), batch 2 = ≥ 450, each batch's survivors (sets +
    * band keys) joining the evolved history the next batch probes. Shared
    * by q141 (the batch loop) and q161 (the SAME loop driven by Structured
    * Streaming micro-batches): q161 matching this SQL IS the claim that
    * the streaming run's evolved band/set state equals the batch replay. */
  private lazy val nearDupLifecycleOracleSql: String =
    s"""WITH $dShingleCte,
       |hist AS (SELECT doc_id, s FROM sh WHERE doc_id < 300 AND len(s) > 0),
       |b1 AS (SELECT doc_id, s FROM sh
       |       WHERE doc_id >= 300 AND doc_id < 450 AND len(s) > 0),
       |b2 AS (SELECT doc_id, s FROM sh WHERE doc_id >= 450 AND len(s) > 0),
       |dup1 AS (SELECT DISTINCT b.doc_id FROM b1 b JOIN hist h
       |         ON CAST(len(list_intersect(b.s, h.s)) AS DOUBLE)
       |            / (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) >= 0.8),
       |s1 AS (SELECT doc_id, s FROM b1
       |       WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
       |st2 AS (SELECT doc_id, s FROM hist UNION ALL SELECT doc_id, s FROM s1),
       |dup2 AS (SELECT DISTINCT b.doc_id FROM b2 b JOIN st2 h
       |         ON CAST(len(list_intersect(b.s, h.s)) AS DOUBLE)
       |            / (len(b.s) + len(h.s) - len(list_intersect(b.s, h.s))) >= 0.8),
       |s2 AS (SELECT doc_id, s FROM b2
       |       WHERE doc_id NOT IN (SELECT doc_id FROM dup2))
       |SELECT doc_id, 1 AS batch, len(s) AS n_grams FROM s1
       |UNION ALL
       |SELECT doc_id, 2 AS batch, len(s) AS n_grams FROM s2
       |ORDER BY doc_id""".stripMargin

  /** The ONE oracle for the Bloom-state dedup lifecycle — hist = doc_id
    * even, batch 1 = doc_id ≡ 0 (mod 3), batch 2 = doc_id ≡ 0 (mod 5),
    * each batch's survivors joining the corpus the next batch probes.
    * Shared by q142 (the batch loop) and q158 (the SAME loop driven by
    * Structured Streaming micro-batches): q158 matching this SQL IS the
    * claim that the streaming run's end state equals the batch replay. */
  private lazy val bloomLifecycleOracleSql: String =
    """WITH s1 AS (
      |  SELECT b.doc_id, b.source FROM documents b
      |  WHERE b.doc_id % 3 = 0 AND NOT EXISTS (
      |    SELECT 1 FROM documents h
      |    WHERE h.doc_id % 2 = 0 AND h.text IS NOT DISTINCT FROM b.text)),
      |s2 AS (
      |  SELECT b.doc_id, b.source FROM documents b
      |  WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
      |    SELECT 1 FROM documents h
      |    WHERE h.doc_id % 2 = 0 AND h.text IS NOT DISTINCT FROM b.text)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM documents h
      |    WHERE h.doc_id IN (SELECT doc_id FROM s1)
      |      AND h.text IS NOT DISTINCT FROM b.text))
      |SELECT doc_id, 1 AS batch, source FROM s1
      |UNION ALL
      |SELECT doc_id, 2 AS batch, source FROM s2
      |ORDER BY doc_id, batch""".stripMargin

  /** q187/q197's change-log fixture: the projected orders base and two
    * binlog batches. Batch 1 updates keys ≡ 1 and deletes keys ≡ 2 (mod
    * 10); batch 2 updates keys ≡ 3, deletes the keys batch 1 updated and
    * inserts shifted copies of keys ≡ 4, so the end state proves the
    * applies chained. */
  private def cdcFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val nulls = Seq(lit(null).cast("bigint").as("o_custkey"),
      lit(null).cast("double").as("o_totalprice"))
    def upserts(m: Int, seq: Long, op: String, key: Column, price: Column) =
      base.filter(col("o_orderkey") % 10 === m).select(key.as("o_orderkey"),
        col("o_custkey"), price.as("o_totalprice"), lit(seq).as("seq"),
        lit(op).as("op"))
    def deletes(m: Int, seq: Long) = base.filter(col("o_orderkey") % 10 === m)
      .select(col("o_orderkey") +: nulls :+ lit(seq).as("seq") :+
        lit("D").as("op"): _*)
    val log1 = upserts(1, 1L, "U", col("o_orderkey"), col("o_totalprice") * 2)
      .unionByName(deletes(2, 1L))
    val log2 = upserts(3, 2L, "U", col("o_orderkey"), col("o_totalprice") * 3)
      .unionByName(deletes(1, 2L))
      .unionByName(upserts(4, 2L, "I", col("o_orderkey") + 200000000L,
        col("o_totalprice")))
    (base, log1, log2)
  }

  /** q187/q197's oracle: both applies replayed relationally. */
  private lazy val cdcLifecycleOracleSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |s1 AS (SELECT o_orderkey, o_custkey,
      |         CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS o_totalprice
      |       FROM base WHERE o_orderkey % 10 <> 2),
      |s2 AS (SELECT o_orderkey, o_custkey,
      |         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 3
      |              ELSE o_totalprice END AS o_totalprice
      |       FROM s1 WHERE o_orderkey % 10 <> 1
      |       UNION ALL
      |       SELECT o_orderkey + 200000000, o_custkey, o_totalprice
      |       FROM base WHERE o_orderkey % 10 = 4)
      |SELECT o_orderkey, o_custkey, o_totalprice FROM s2
      |ORDER BY o_orderkey""".stripMargin

  /** q161/q204's shared lifecycle: the near-dup streaming loop with both
    * state tables on the X59 ledger. Seeds ledger id 0 (history shingle
    * sets with batch=0; their band keys), stages the two ingest batches,
    * and returns (sets, bands, runOnce) where runOnce(checkpointDir)
    * drives the stream over the staged files once. Every state commit is
    * `ledgerAppendIfAbsent(batchId + 1, …)` — by-name, so a replayed
    * batchId never even builds its probe plan — and the two commits chain
    * sets-first: a crash between them heals on replay because the bands
    * delta derives from the COMMITTED sets delta (with a ledger-scan
    * fallback for the corner where a fold absorbed that delta first).
    * q161 runs it once; q204 runs it twice (second from a fresh
    * checkpoint = full batchId replay) and pins that the ledgers didn't
    * move. */
  private def nearDupLedgerSetup(s: SparkSession, dir: String,
      work: java.nio.file.Path)
      : (graft.core.Table, graft.core.Table, String => Unit) = {
    val docs = t(s, dir, "documents")
    val sets = graft.core.Table(s, work.toString, "sets")
    val bands = graft.core.Table(s, work.toString, "bands")
    def survivorsOf(id: Long): DataFrame =
      scala.util.Try(sets.readLedgerDelta(id)).getOrElse(
        sets.readLedger.filter(col("batch") === id))
    sets.ledgerAppendIfAbsent(0L,
      Dedup.shingleSets(docs.filter(col("doc_id") < 300), "doc_id", "text")
        .withColumn("batch", lit(0).cast("int")))
    bands.ledgerAppendIfAbsent(0L,
      Dedup.nearDupBandKeys(survivorsOf(0L).drop("batch"), "doc_id"))
    val stream = Staging.fileStream(work,
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 450),
      docs.filter(col("doc_id") >= 450))
    val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val id = batchId + 1
      // maintenance at the READ edge: fold fragmented deltas into one
      // base BEFORE this batch's probes — the rewrite lands in front of
      // the scan it speeds up, and the lifecycle's last append never pays
      // for a fold no later batch reads. maxDeltas=1 makes the fixture
      // cadence exercise a real fold at batch 2's entry.
      sets.ledgerCompact(maxDeltas = 1)
      bands.ledgerCompact(maxDeltas = 1)
      sets.ledgerAppendIfAbsent(id, {
        // the file source delivers each micro-batch as ONE file = ONE
        // input split, so without a re-spread the lambda-heavy shingle
        // stage runs on a single core regardless of session parallelism
        // (the q166 lesson applied to streaming); then materialize the
        // sets frame once for its three consumers inside
        // incrementalNearDupNew (band-probe, exact-verify, anti-join)
        val bs = Dedup.shingleSets(spread(s, batch), "doc_id", "text")
          .localCheckpoint()
        Dedup.incrementalNearDupNew(bs, bands.readLedger,
            sets.readLedger.drop("batch"), "doc_id", threshold = 0.8)
          .withColumn("batch", lit(id).cast("int"))
      })
      bands.ledgerAppendIfAbsent(id,
        Dedup.nearDupBandKeys(survivorsOf(id).drop("batch"), "doc_id"))
    }
    (sets, bands, (cp: String) => stream.drain(onBatch, Some(cp)))
  }

  /** The ONE oracle for KMV overlap (q148 whole-corpus, q150 merged
    * batches): replays the 60-bit hash, the per-source min-64, and the
    * union-min-k Jaccard estimator. q150 matching this SQL IS the
    * mergeability claim — the oracle never sees batches. */
  private lazy val kmvOverlapOracleSql: String =
    s"""WITH tk AS (SELECT source, $dTok AS tk FROM documents
       |            WHERE source IN ('src0', 'src1', 'src2', 'src3')),
       |sh AS (SELECT DISTINCT source,
       |         unnest([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
       |       FROM tk),
       |hv AS (SELECT DISTINCT source,
       |         CAST(('0x' || substr(md5('kmv:' || sh), 1, 15))::UBIGINT AS BIGINT) AS hv
       |       FROM sh),
       |sk AS (SELECT source, hv FROM (
       |         SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
       |         FROM hv)
       |       WHERE rn <= 64),
       |p AS (SELECT a.source AS ga, b.source AS gb
       |      FROM (SELECT DISTINCT source FROM sk) a,
       |           (SELECT DISTINCT source FROM sk) b
       |      WHERE a.source < b.source),
       |u AS (SELECT ga, gb, hv, max(ina) AS ina, max(inb) AS inb FROM (
       |        SELECT p.ga, p.gb, s.hv, 1 AS ina, 0 AS inb
       |        FROM p JOIN sk s ON s.source = p.ga
       |        UNION ALL
       |        SELECT p.ga, p.gb, s.hv, 0 AS ina, 1 AS inb
       |        FROM p JOIN sk s ON s.source = p.gb)
       |      GROUP BY ga, gb, hv),
       |r AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY hv) AS rn FROM u)
       |SELECT ga AS grp_a, gb AS grp_b,
       |  round(CAST(sum(ina * inb) AS DOUBLE) / count(*), 6) AS est_jaccard
       |FROM r WHERE rn <= 64
       |GROUP BY ga, gb ORDER BY grp_a, grp_b""".stripMargin

  /** q137's shared PQ codebooks: 8 subspaces × 4 centroids × 8 components,
    * deterministic non-trivial directions (distinct per centroid index).
    * The SAME Seq feeds the Spark operator and the generated oracle SQL —
    * one source of truth, no copy to drift. */
  private lazy val pqCodebooks: Seq[Seq[Seq[Double]]] =
    (0 until 8).map(s => (0 until 4).map(j =>
      (0 until 8).map(d =>
        (j + 1) * 0.05 * (if ((d + s + j) % 3 == 0) 1.0 else -0.5)).toSeq
    ).toSeq).toSeq

  private def dList(xs: Seq[Double]): String = xs.mkString("[", ", ", "]")

  /** The interpolated-bigram log-prob CTE chain (through `lp`): the ONE
    * replay of LanguageModel.bigramLogProb's arithmetic, shared by q105
    * (per-doc scores) and q172 (per-language perplexity tiers) so the two
    * oracles cannot drift. The λ literals interpolate from the SAME Scala
    * doubles the operator uses. */
  private lazy val dBigramLpCtes: String =
    s"""tk AS (SELECT doc_id, $dTok AS tk FROM documents),
       |tr AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
       |         unnest(tk[2:len(tk)]) AS w2 FROM tk),
       |cbi AS (SELECT w1, w2, count(*) AS cbi FROM tr GROUP BY w1, w2),
       |cctx AS (SELECT w1, sum(cbi) AS cctx FROM cbi GROUP BY w1),
       |uni AS (SELECT tok AS w2, count(*) AS cuni
       |        FROM (SELECT unnest(tk) AS tok FROM tk) GROUP BY tok),
       |tot AS (SELECT sum(cuni) AS total FROM uni),
       |lp AS (SELECT doc_id,
       |         round(log2(${0.7} * (CAST(cbi AS DOUBLE) / cctx)
       |                    + ${1 - 0.7} * (CAST(cuni AS DOUBLE) / total)), 6) AS lp
       |       FROM tr JOIN cbi USING (w1, w2) JOIN cctx USING (w1)
       |            JOIN uni USING (w2) CROSS JOIN tot)""".stripMargin

  /** A DuckDB string literal built codepoint-by-codepoint (`chr(..) ||
    * chr(..)`): the q171 mojibake strings are EXACTLY the characters whose
    * source-file encoding round-trips are the failure under test, so the
    * oracle must not depend on any literal surviving one. */
  private def dChrs(s: String): String = {
    val cps = s.codePoints().toArray
    require(cps.nonEmpty, "dChrs of empty string")
    cps.map(cp => s"chr($cp)").mkString("(", " || ", ")")
  }

  /** q155's literal IVF codebook: 4 centroids × 64 components, a
    * deterministic non-trivial direction per cell (values in [−1, 1] on a
    * period-13 lattice so no two cells are parallel). The SAME Seq feeds
    * `Similarity.ivfCellAssign`/`ivfProbeCells` and the generated oracle
    * SQL — one source of truth. */
  private lazy val ivfCentroids: Seq[Seq[Double]] =
    (0 until 4).map(c => (0 until 64).map(d =>
      (((c * 31 + d * 7) % 13) - 6).toDouble / 6.0).toSeq).toSeq

  /** Oracle replay of the per-cell NEGATED IVF scores −(v·c_j)/‖c_j‖: the
    * norms are computed in Scala and printed as literals, so both engines
    * divide by the bit-identical constant (Double.toString round-trips). */
  private def dIvfNegScores(of: String): String =
    ivfCentroids.map { c =>
      val norm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      s"-(list_dot_product($of, ${dList(c)}) / $norm)"
    }.mkString("[", ", ", "]")

  private lazy val pqOffsets: Seq[Int] =
    pqCodebooks.map(_.head.length).scanLeft(0)(_ + _).init

  /** Oracle replay of `Quantize.pqEncode` over column `of`: per subspace,
    * argmin over cc_j − 2·(sub·cent_j) with first-occurrence (lowest-index)
    * tie-break — MUST stay in lockstep with the operator's arithmetic. */
  private def dPqCodeList(of: String): String = {
    val codes = pqCodebooks.zipWithIndex.map { case (cents, s) =>
      val o = pqOffsets(s); val w = cents.head.length
      val sub = s"$of[${o + 1}:${o + w}]"
      val scores = cents.map { cent =>
        val cc = cent.foldLeft(0.0)((a, x) => a + x * x)
        s"$cc - 2 * list_dot_product($sub, ${dList(cent)})"
      }.mkString("[", ", ", "]")
      s"list_position($scores, list_aggregate($scores, 'min')) - 1"
    }
    codes.mkString("[", ", ", "]")
  }

  /** Oracle replay of `Quantize.pqAdcTopK`'s distance: Σ_s (q_s·q_s −
    * 2·(q_s·cent(code_s)) + cc(code_s)), left-to-right — in lockstep with
    * the operator. */
  private def dPqAdcDist(qv: String, code: String): String =
    pqCodebooks.zipWithIndex.map { case (cents, s) =>
      val o = pqOffsets(s); val w = cents.head.length
      val qsub = s"$qv[${o + 1}:${o + w}]"
      val dots = cents.map(cent => s"list_dot_product($qsub, ${dList(cent)})")
        .mkString("[", ", ", "]")
      val ccs = dList(cents.map(_.foldLeft(0.0)((a, x) => a + x * x)))
      s"(list_dot_product($qsub, $qsub) - 2 * ($dots)[$code[${s + 1}] + 1]" +
        s" + ($ccs)[$code[${s + 1}] + 1])"
    }.mkString(" + ")

  /** q165's oracle replay of `Markup.extractText` over a column expression
    * `of` — the SAME regex chain (Java ∩ RE2 syntax), stepwise CTEs so each
    * stage is auditable; DuckDB regexp_replace needs the explicit 'g'. */
  private def dMarkupCtes(of: String): String = {
    def drop(tag: String) =
      s"regexp_replace(x, '(?si)<$tag(\\s[^>]*)?>.*?</$tag>', ' ', 'g')"
    s"""h AS (SELECT doc_id, $of AS x FROM documents),
       |m1 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM h),
       |m2 AS (SELECT doc_id, ${drop("head")} AS x FROM m1),
       |m3 AS (SELECT doc_id, ${drop("script")} AS x FROM m2),
       |m4 AS (SELECT doc_id, ${drop("style")} AS x FROM m3),
       |m5 AS (SELECT doc_id, regexp_replace(x,
       |         '(?i)</?(p|div|li|tr|h[1-6]|ul|ol|table)(\\s[^>]*)?>|<br(\\s[^>]*)?/?>',
       |         chr(10), 'g') AS x FROM m4),
       |m6 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', ' ', 'g') AS x FROM m5),
       |m7 AS (SELECT doc_id,
       |         replace(replace(replace(replace(replace(replace(x,
       |           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
       |           '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS x FROM m6),
       |m8 AS (SELECT doc_id, regexp_replace(x, '[ \\t]+', ' ', 'g') AS x FROM m7),
       |m9 AS (SELECT doc_id, regexp_replace(x, ' ?\\n ?', chr(10), 'g') AS x FROM m8),
       |m10 AS (SELECT doc_id, regexp_replace(x, '\\n{2,}', chr(10), 'g') AS x FROM m9),
       |m11 AS (SELECT doc_id, regexp_replace(x, '^\\s+|\\s+$$', '', 'g') AS x FROM m10)""".stripMargin
  }

  /** The ONE DSIR oracle replay (q163/q164): hashed unigram+bigram bucket
    * hits `b`, target (English) and raw bucket distributions, scalar totals,
    * the add-one-smoothed per-bucket micro-nat log-ratio `lr`, and per-doc
    * integer score sums `sc` — in lockstep with `Dsir.importanceScores`
    * (1024 buckets, seed "dsir", integer products cast to DOUBLE only at
    * the final quotient, round half-away like Spark's `round`). */
  private lazy val dDsirCtes: String =
    s"""toks AS (SELECT doc_id, lang, $dTok AS tk FROM documents),
       |g AS (SELECT doc_id, lang,
       |        unnest(list_concat(tk, [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))])) AS gram
       |      FROM toks),
       |b AS (SELECT doc_id, lang,
       |        CAST(('0x' || substr(md5('dsir:' || gram), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bucket
       |      FROM g),
       |tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY bucket),
       |rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
       |tot AS (SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS t,
       |               (SELECT count(*) FROM b) AS r),
       |lr AS (SELECT rc.bucket,
       |         CAST(round(1000000 * ln(
       |           CAST((COALESCE(tc.ct, 0) + 1) * (tot.r + 1024) AS DOUBLE)
       |           / CAST((rc.cr + 1) * (tot.t + 1024) AS DOUBLE))) AS BIGINT) AS lrm
       |       FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot),
       |sc AS (SELECT b.doc_id, CAST(SUM(lr.lrm) AS BIGINT) AS s
       |       FROM b JOIN lr ON b.bucket = lr.bucket GROUP BY b.doc_id)""".stripMargin

  /** The ONE X66 classifier replay, generalized over the TRAINING SLICE
    * and iteration count so the fit-on-everything query (q208) and the
    * held-out eval query (q216) share every line of arithmetic. `qf` is
    * the feature frame (doc, y_micro, bucket, x_micro) with the same md5
    * buckets, floor-division fractions, and en-slice labels as
    * `QualityClassifier.features`; each round r computes per-doc margins
    * (round 1 skips them — w0 = 0 means p = 500000 exactly), the
    * micro-pinned logistic, per-bucket gradients, and the weight update.
    * Every floor division replays the Scala side's `Math.floorDiv`
    * through a non-negative shifted `//`: margins (S + 1e16)//1e6 − 1e10
    * (|S| ≤ 2.5e14), gradient means (g + n·1e13)//n − 1e13 (|g| ≤ n·1e12),
    * updates (lr·gN + 4e18)//1e12 − 4e6 (|lr·gN| ≤ 2e18 at lr = 2e6) —
    * truncating and flooring division agree on non-negative dividends, so
    * Spark `DIV`, Java floorDiv, and DuckDB `//` cannot drift. */
  /** The per-doc margin subquery under weight CTE `w` over feature CTE
    * `f` — (S + 1e16) // 1e6 − 1e10, the shifted floor division. */
  private def dQcMargin(w: String, f: String): String =
    s"""(SELECT f.doc_id, (SUM($w.w * f.x) + 10000000000000000) // 1000000 - 10000000000 AS m
       |   FROM $f f JOIN $w USING (bucket) GROUP BY f.doc_id)""".stripMargin

  /** Feature CTEs `<p>src/<p>toks/<p>gr/<p>b/<p>f` over `documents WHERE
    * pred` — prefix-parameterized so a training set and a disjoint
    * scoring set can coexist in one oracle. */
  private def dQcFeatures(p: String, pred: String): String =
    s"""${p}src AS (SELECT doc_id, lang, text FROM documents WHERE $pred),
       |${p}toks AS (SELECT doc_id, lang, $dTok AS tk FROM ${p}src),
       |${p}gr AS (SELECT doc_id, lang,
       |    unnest(list_concat(tk, [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))])) AS gram
       |  FROM ${p}toks),
       |${p}b AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y,
       |    CAST(('0x' || substr(md5('qc:' || gram), 1, 8))::UBIGINT % 256 AS BIGINT) AS bucket
       |  FROM ${p}gr),
       |${p}f AS (SELECT doc_id, y, bucket,
       |    (1000000 * count(*)) // (SUM(count(*)) OVER (PARTITION BY doc_id)) AS x
       |  FROM ${p}b GROUP BY doc_id, y, bucket)""".stripMargin

  /** The unrolled training loop over `documents WHERE trainPred`: feature
    * CTEs (prefix q), qn, and `rounds` iterations ending in weight CTE
    * qw`rounds`. */
  private def dQcTrain(trainPred: String, rounds: Int): String = {
    val n = "(SELECT n FROM qn)"
    def upd(g: String) =
      s"(2000000 * (($g + $n * 10000000000000) // $n - 10000000000000) " +
        "+ 4000000000000000000) // 1000000000000 - 4000000"
    def round(r: Int): String =
      s"""qm$r AS ${dQcMargin(s"qw${r - 1}", "qf")},
         |qp$r AS (SELECT doc_id,
         |    CAST(round(1000000 / (1 + exp(-CAST(m AS DOUBLE) / 1000000))) AS BIGINT) AS p
         |  FROM qm$r),
         |qg$r AS (SELECT f.bucket, SUM((f.y - p.p) * f.x) AS g
         |  FROM qf f JOIN qp$r p USING (doc_id) GROUP BY f.bucket),
         |qw$r AS (SELECT w.bucket, w.w + (${upd("g.g")}) AS w
         |  FROM qw${r - 1} w JOIN qg$r g USING (bucket))""".stripMargin
    s"""${dQcFeatures("q", trainPred)},
       |qn AS (SELECT count(*) AS n FROM qsrc),
       |qg1 AS (SELECT bucket, SUM((y - 500000) * x) AS g FROM qf GROUP BY bucket),
       |qw1 AS (SELECT bucket, ${upd("g")} AS w FROM qg1)""".stripMargin +
      (2 to rounds).map(round).map(",\n" + _).mkString
  }

  /** q208's chain: train on EVERYTHING for 3 rounds, then per-doc margins
    * of the same corpus under the final weights (CTE `qs`). */
  private lazy val dQcIterCtes: String =
    s"""${dQcTrain("TRUE", 3)},
       |qs AS ${dQcMargin("qw3", "qf")}""".stripMargin

  /** The ONE oracle replay of the per-doc 3-token shingle SET (`docSets`'
    * string-shingle face) — `sh(doc_id, s)`; shared by every oracle that
    * reasons over shingle overlap (q37/q40's CC, q136's containment). */
  private lazy val dShingleCte: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS s
       |  FROM (SELECT doc_id, $dTok AS tk FROM documents))""".stripMargin

  /** The ONE recursive connected-components oracle block (the q37 cluster
    * artifact's replay, shared by q37/q40/q135): shingle sets → exact
    * Jaccard≥0.8 pairs → transitive closure → per-doc min-reachable id in
    * `comp`. Callers prepend `WITH RECURSIVE ` and resolve components as
    * `COALESCE(least(comp.mn, doc_id), doc_id)`. */
  private lazy val dClusterCtes: String =
    s"""$dShingleCte,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src)""".stripMargin

  /** q160's oracle replay of the redistributing rounds: per round the
    * dangling nodes' total rank dm (nodes absent from `deg`) folds into
    * every node's incoming mass as `dm // N` BEFORE damping — in lockstep
    * with `Graph.pageRank(redistributeDangling = true)`. */
  private lazy val dPagerankDanglingIters: String = (1 to 3).map { i =>
    val p = s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS id, SUM($p.pr // deg.outdeg) AS inc
       |  FROM e JOIN deg ON deg.src = e.src JOIN $p ON $p.id = e.src
       |  GROUP BY e.dst),
       |d$i AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM $p
       |        WHERE id NOT IN (SELECT src FROM deg)),
       |r$i AS (SELECT n.id,
       |  CAST((SELECT base FROM params)
       |    + (85 * (COALESCE(c$i.inc, 0)
       |       + (SELECT dm FROM d$i) // (SELECT cnt FROM params))) // 100 AS BIGINT) AS pr
       |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
  }.mkString(",\n")

  /** q309's oracle replay of Graph.personalizedPageRank's rounds: the
    * dangling-iters replay with the teleport restricted to the SEED set —
    * base and the per-round `dm // |S|` redistribution land on seed rows
    * only, in lockstep with the operator's stated contract. */
  /** q314's oracle replay of Graph.hits' integer rounds: auth from the
    * previous hubs, L1-renormalize (`x·scale // Σx` — DuckDB floor ≡ the
    * operator's DECIMAL remainder-subtract on non-negative operands),
    * then hubs from this round's auths, renormalize — MUST stay in
    * lockstep with the operator's stated update order. */
  private lazy val dHitsIters: String = (1 to 2).map { i =>
    val p = s"h${i - 1}"
    s"""ar$i AS (SELECT e.dst AS id, SUM($p.h) AS araw
       |  FROM e JOIN $p ON $p.id = e.src GROUP BY e.dst),
       |asum$i AS (SELECT SUM(araw)::HUGEINT AS s FROM ar$i),
       |a$i AS (SELECT n.id,
       |  CAST(CASE WHEN (SELECT s FROM asum$i) > 0 THEN
       |    (COALESCE(ar$i.araw, 0)::HUGEINT * 1000000000000)
       |      // (SELECT s FROM asum$i) ELSE 0 END AS BIGINT) AS a
       |  FROM n LEFT JOIN ar$i ON ar$i.id = n.id),
       |hr$i AS (SELECT e.src AS id, SUM(a$i.a) AS hraw
       |  FROM e JOIN a$i ON a$i.id = e.dst GROUP BY e.src),
       |hsum$i AS (SELECT SUM(hraw)::HUGEINT AS s FROM hr$i),
       |h$i AS (SELECT n.id,
       |  CAST(CASE WHEN (SELECT s FROM hsum$i) > 0 THEN
       |    (COALESCE(hr$i.hraw, 0)::HUGEINT * 1000000000000)
       |      // (SELECT s FROM hsum$i) ELSE 0 END AS BIGINT) AS h
       |  FROM n LEFT JOIN hr$i ON hr$i.id = n.id)""".stripMargin
  }.mkString(",\n")

  /** q338's oracle replay of Graph.betweennessSampled's two passes at
    * horizon 4, unrolled level by level (the q309 pattern — DuckDB
    * recursive CTEs cannot aggregate in the recursive term, so fixed
    * round counts unroll): forward, each level sums predecessor σ and
    * anti-joins everything already visited; backward, each level's
    * dependency is the floored `(σ_v·(1e6+δ_w)) // σ_w` summed over
    * depth-(d+1) successors — `//` is non-negative here, so DuckDB
    * floor ≡ the operator's truncating DECIMAL chain. */
  private lazy val dBetweennessIters: String = {
    val fwd = (1 to 4).map { i =>
      s"""f$i AS (SELECT seed, id, sigma FROM (
         |    SELECT f.seed, e.dst AS id, SUM(f.sigma) AS sigma
         |    FROM f${i - 1} f JOIN e ON e.src = f.id
         |    GROUP BY 1, 2) x
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
         |    WHERE v.seed = x.seed AND v.id = x.id)),
         |v$i AS (SELECT seed, id FROM v${i - 1}
         |  UNION ALL SELECT seed, id FROM f$i)""".stripMargin
    }
    val back = Seq("dl4 AS (SELECT seed, id, sigma, 0::HUGEINT AS delta FROM f4)") ++
      (3 to 1 by -1).map { d =>
        s"""dl$d AS (SELECT f.seed, f.id, f.sigma,
           |    coalesce(SUM((f.sigma * (1000000 + w.delta)) // w.sigma),
           |      0::HUGEINT) AS delta
           |  FROM f$d f
           |  LEFT JOIN (SELECT wd.seed, e2.src AS vid, wd.sigma, wd.delta
           |             FROM dl${d + 1} wd JOIN e e2 ON e2.dst = wd.id) w
           |    ON w.seed = f.seed AND w.vid = f.id
           |  GROUP BY 1, 2, 3)""".stripMargin
      }
    (fwd ++ back).mkString(",\n")
  }

  private lazy val dPprSeedIters: String = (1 to 3).map { i =>
    val p = s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS id, SUM($p.pr // deg.outdeg) AS inc
       |  FROM e JOIN deg ON deg.src = e.src JOIN $p ON $p.id = e.src
       |  GROUP BY e.dst),
       |d$i AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM $p
       |        WHERE id NOT IN (SELECT src FROM deg)),
       |r$i AS (SELECT n.id, n.seed,
       |  CAST(CASE WHEN n.seed = 1 THEN (SELECT base FROM params)
       |       ELSE 0 END
       |    + (85 * (COALESCE(c$i.inc, 0)
       |       + CASE WHEN n.seed = 1 THEN (SELECT dm FROM d$i)
       |           // (SELECT sc FROM params) ELSE 0 END)) // 100
       |    AS BIGINT) AS pr
       |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
  }.mkString(",\n")

  /** q132's oracle replay of Graph.pageRank's integer power-method rounds:
    * contributions `pr // outdeg` summed per target, then
    * `base + (85 · inc) // 100` — MUST stay in lockstep with the operator
    * (`//` is DuckDB floor division ≡ Spark `DIV` on non-negative longs). */
  private lazy val dPagerankIters: String = (1 to 3).map { i =>
    val p = s"r${i - 1}"
    s"""c$i AS (SELECT e.dst AS id, SUM($p.pr // deg.outdeg) AS inc
       |  FROM e JOIN deg ON deg.src = e.src JOIN $p ON $p.id = e.src
       |  GROUP BY e.dst),
       |r$i AS (SELECT n.id,
       |  CAST((SELECT base FROM params)
       |    + (85 * COALESCE(c$i.inc, 0)) // 100 AS BIGINT) AS pr
       |  FROM n LEFT JOIN c$i ON c$i.id = n.id)""".stripMargin
  }.mkString(",\n")

  /** The q111/q112 BPE merge table — monotone (each operand is a single
    * char or an earlier output), with two multi-level chains (t,h → th,e and
    * s,c → sc,a → sca,n) so merge ORDER is observable in the result, plus a
    * pair (a,t) that competes with the sc-chain inside words like "scat". */
  private lazy val bpeMerges: Seq[(String, String)] =
    Seq("t" -> "h", "th" -> "e", "a" -> "t", "s" -> "c", "sc" -> "a", "sca" -> "n")

  /** DuckDB replay of the BPE encode as ordered replace() passes — merged
    * symbols become private-use-area chars (chr 57344+) that cannot occur in
    * the all-ASCII fixture text. Equivalence to the engine's lowest-rank-
    * first algorithm holds exactly because the table is monotone (see
    * BpeTable's scaladoc). */
  private lazy val dBpeChain: String =
    "replace(replace(replace(replace(replace(replace(text," +
      "'th',chr(57344))," +          // rank 0: t h
      "chr(57344)||'e',chr(57345))," + // rank 1: th e
      "'at',chr(57346))," +          // rank 2: a t
      "'sc',chr(57347))," +          // rank 3: s c
      "chr(57347)||'a',chr(57348))," + // rank 4: sc a
      "chr(57348)||'n',chr(57349))"    // rank 5: sca n

  /** The ONE BPE token-count definition shared by every oracle that spends
    * BPE tokens (q112, q128): symbols remaining after the replace chain,
    * whitespace excluded, NULL text coalesced to 0 — mirroring
    * `TextStats.bpeTokenCount`'s coalesce(text, '') so the oracle cannot
    * diverge into NULL on a future fixture. */
  private lazy val dBpeCount: String =
    s"coalesce(len(regexp_replace($dBpeChain, '\\s', '', 'g')), 0)"

  /** The ONE canonicalization-chain definition shared by every oracle that
    * replays `TextStats.normalizeForDedup` (q107, q128), parameterized on
    * the source expression. */
  private def dCanonOf(src: String): String =
    s"trim(regexp_replace(regexp_replace(lower(coalesce($src, '')), " +
      s"'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** The full token sequence joined by '|', over a column `x` holding the
    * whitespace-stripped replace chain (bound in q111's CTE): split the
    * symbols into a char list, array_to_string with '|' (which only inserts
    * BETWEEN elements — an append-then-rtrim formulation would also strip
    * legitimate trailing '|' token characters), then expand placeholders
    * back to their merged strings. */
  private lazy val dBpeJoined: String =
    "replace(replace(replace(replace(replace(replace(" +
      "array_to_string([substr(x, i, 1) for i in range(1, len(x) + 1)], '|')," +
      "chr(57349),'scan'),chr(57348),'sca'),chr(57347),'sc')," +
      "chr(57346),'at'),chr(57345),'the'),chr(57344),'th')"

  /** Per-source mixture rates for q62 — the one map both the Spark plan and
    * the generated oracle CASE derive from. lazy: referenced (via
    * [[mixCaseSql]]) while `queries` above initializes, which runs first in
    * declaration order — a strict val would still be null there. */
  private lazy val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> Seq(1.0, 0.5, 0.25, 0.1)(i % 4)).toMap

  /** DuckDB keep-predicate mirroring Sampling's md5-threshold filter. */
  private def dKeep(seed: String, rate: Double): String =
    dKeepOf(seed, rate, "CAST(doc_id AS VARCHAR)")

  /** The ONE md5-threshold keep-predicate replay (`Sampling.bucket`'s
    * hashing shape) over an arbitrary string-typed key expression;
    * [[dKeep]] is the doc_id-keyed shorthand. */
  private def dKeepOf(seed: String, rate: Double, of: String): String =
    s"substr(md5('$seed:' || $of), 1, 8) < '${graft.ops.Sampling.hexThreshold(rate)}'"

  /** q62's oracle CASE chain, generated from [[mixRates]]. */
  private lazy val mixCaseSql: String = {
    val whens = mixRates.toSeq.sortBy(_._1).map { case (src, r) =>
      val cond =
        if (r >= 1) "TRUE" else if (r <= 0) "FALSE" else dKeep("s62", r)
      s"WHEN source = '$src' THEN $cond"
    }.mkString("\n  ")
    s"CASE $whens ELSE FALSE END"
  }

  /** Brute-force word-3-gram Jaccard ≥ 0.8 pairs — shared oracle for
    * q27 (exact join) and q28 (MinHash-LSH, whose verified output equals the
    * exact set at these parameters). */
  private lazy val jaccardOracleSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS s
       |  FROM (SELECT doc_id, $dTok AS tk FROM documents))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
}
