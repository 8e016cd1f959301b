package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Checkpointing
import graft.core.Checkpointing.AtCap
import graft.text.TextStats

/** Deduplication operators for training-data pipelines (SURVEY.md §2.9 X1/X2):
  * exact, n-gram Jaccard set-similarity join, MinHash-LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - nothing collects to the driver; every stage is a bounded shuffle keyed
  *    on (doc, shingle, band or bit) — Catalyst/AQE handles skew;
  *  - the exact Jaccard join uses an inverted shingle index, never the O(n²)
  *    cross product; ubiquitous shingles (df > maxDocFreq) are dropped before
  *    pairing, which is the standard frequency-filter bound on bucket blowup;
  *  - MinHash-LSH reduces candidate generation to b bucket-joins of r rows
  *    each, so pair count scales with collisions, not corpus size²;
  *  - signatures are fixed-width per doc (k longs) → shuffle volume is
  *    rows × k × 8 bytes regardless of document length.
  */
object Dedup {

  /** X1 — exact dedup: one surviving row per distinct value of `keys`,
    * deterministically the one with the smallest `keep` value (the reference
    * idiom: keep the lowest serial id; `keep` must be unique within a group
    * for full determinism). Plain `dropDuplicates` keeps an arbitrary row —
    * fine for pure dedup, not for reproducible pipelines.
    *
    * `min_by` over the whole row, NOT a `row_number` window: a window sends
    * every row of a key to one task — the classic hot-key straggler when
    * millions of identical boilerplate docs share one dedup key — while the
    * aggregate form collapses each key to one candidate row per partition
    * map-side, so the shuffle carries one row per (partition, key). */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], keep: Column): DataFrame = {
    val all = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(all, keep).as("__row"))
      .select(df.columns.toIndexedSeq.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** X1 incremental face — cross-batch dedup against a HISTORICAL corpus via
    * a Bloom prefilter: keep only the batch rows whose `keys` do NOT already
    * appear in `history`, without paying a full batch×history join — the
    * daily-crawl-append shape, where history is 100 TB and the batch is not.
    *
    *  1. ONE pass over history builds a `BloomFilter` sketch over
    *     `xxhash64(keys)` (`DataFrameStatFunctions.bloomFilter` — partial
    *     sketches merge map-side, no row ever reaches the driver);
    *  2. the batch probes the filter IN-PLAN (codegen'd
    *     [[graft.functions.BloomMightContain]]): "definitely new" rows pass
    *     with zero join work — at typical dup rates that is almost the
    *     whole batch;
    *  3. only the might-contain subset (true dups + fpp false positives)
    *     is confirmed exactly: its keys broadcast into a map-side semi-scan
    *     of history (history itself NEVER shuffles — the shuffled set is at
    *     most the candidate keys), then a broadcast anti-join restores
    *     EXACT semantics — the output is independent of fpp; fpp only
    *     sizes the candidate set.
    *
    * Null keys hash like any value and null-safe-join like `groupBy` treats
    * them: a null-key batch row is a duplicate of a null-key history row.
    * Within-batch duplicates are not collapsed here — this operator answers
    * "which batch rows are new vs history"; compose with [[exactKeepFirst]]
    * for batch-internal dedup. */
  def incrementalDedup(history: DataFrame, batch: DataFrame, keys: Seq[String],
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    incrementalDedupWithState(history, batch, keys,
      bloomKeyState(history, keys, expectedItems, fpp))

  /** The PERSISTED half of [[incrementalDedup]]'s state: a serialized Bloom
    * sketch over `xxhash64(keys)` — one pass over the corpus, partial
    * sketches merged map-side, no row reaches the driver. Store the bytes
    * next to the corpus; every future batch probes them without touching
    * history again. REFRESH without a corpus re-scan via
    * [[bloomKeyStateMerge]]: sketch the batch survivors (batch-sized work)
    * and OR the two filters. All sketches that will ever merge must be
    * built with the SAME `expectedItems`/`fpp` — Spark refuses to merge
    * filters of different geometry (`IncompatibleMergeException`), so size
    * `expectedItems` for the corpus the state will GROW INTO, not the
    * first batch. */
  def bloomKeyState(df: DataFrame, keys: Seq[String], expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    require(keys.nonEmpty, "need at least one key column")
    require(keys.forall(df.columns.contains),
      s"key column(s) must exist: ${keys.mkString(",")}")
    val filter = df.select(xxhash64(keys.map(col): _*).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** OR two [[bloomKeyState]] sketches of the same geometry — the
    * batch-append state refresh: `new state = old state ∪ sketch(batch
    * survivors)`, costing one pass over the BATCH, never the corpus. */
  def bloomKeyStateMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val bos = new java.io.ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** [[incrementalDedup]] probing a pre-built [[bloomKeyState]] instead of
    * sketching `history` itself — the per-batch lifecycle entry point: the
    * Bloom pass over history is paid ONCE when the state is first built,
    * after which each batch costs its own probe + the candidate-bounded
    * confirm scan. `history` is still consulted for exact confirmation
    * (map-side, against broadcast candidate keys only), which is what makes
    * the output EXACT at any fpp. INVARIANT: the sketch must contain every
    * key `history` holds (Bloom filters have no false negatives over
    * inserted keys, so state built/refreshed in lockstep with appends
    * satisfies this by construction) — a definitely-new verdict is trusted
    * without confirmation. Extra keys in the sketch are harmless: they only
    * enlarge the candidate set the confirm step then rejects. */
  def incrementalDedupWithState(history: DataFrame, batch: DataFrame,
      keys: Seq[String], state: Array[Byte]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(keys.forall(batch.columns.contains) && keys.forall(history.columns.contains),
      s"key column(s) must exist on both sides: ${keys.mkString(",")}")
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val keyHash = xxhash64(keys.map(col): _*)
    val bytes = state
    val might = graft.functions.GraftFunctions.bloomMightContain(keyHash, bytes)
    val fresh = batch.filter(!might)
    val candidates = batch.filter(might)
    // Confirm WITHOUT shuffling history: broadcast the candidate keys (small
    // by construction — true dups + fpp×batch) and semi-scan history against
    // them map-side, so the only thing that ever shuffles is the matched key
    // set (≤ candidate keys). A history.distinct() anti-join — the obvious
    // formulation — would re-shuffle every history key on EVERY batch.
    val candKeys = candidates
      .select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"__ck_$i") }: _*)
      .distinct()
    val semiCond = keys.zipWithIndex
      .map { case (k, i) => history(k) <=> candKeys(s"__ck_$i") }
      .reduce(_ && _)
    val matchedKeys = history.join(broadcast(candKeys), semiCond, "left_semi")
      .select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"__hk_$i") }: _*)
      .distinct()
    val antiCond = keys.zipWithIndex
      .map { case (k, i) => candidates(k) <=> matchedKeys(s"__hk_$i") }
      .reduce(_ && _)
    val confirmedNew = candidates.join(broadcast(matchedKeys), antiCond, "left_anti")
    fresh.unionByName(confirmedNew)
  }

  /** Per-document shingle-fingerprint sets: (id, sh array<long>), documents
    * with no n-gram dropped (they have no set similarity). This is THE shared
    * artifact of the near-dup family — every candidate generator (AllPairs,
    * MinHash, SimHash) and every verifier consumes it, so pipelines that run
    * several dedup passes should compute it ONCE, persist or materialize it
    * (the reference's task→table→task boundary), and feed the `...OnSets`
    * entry points below. */
  def shingleSets(docs: DataFrame, id: String, text: String, n: Int = 3): DataFrame =
    docs
      .select(col(id), TextStats.fingerprints(col(text), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** X2a — exact n-gram Jaccard similarity join: all pairs (a, b), a < b, with
    * `|shingles(a) ∩ shingles(b)| / |shingles(a) ∪ shingles(b)| >= threshold`.
    *
    * Prefix-filtered inverted-index algorithm (AllPairs — Bayardo et al.,
    * WWW'07 "Scaling up all pairs similarity search"; parallel shape per
    * Vernica et al., SIGMOD'10):
    *   1. shingle sets per doc, exploded to (id, shingle);
    *   2. global rarity order: document frequency per shingle, ties by value;
    *   3. PREFIX FILTER: index only each doc's `|A| − ⌈τ·|A|⌉ + 1` rarest
    *      shingles — the prefix lemma guarantees any pair at Jaccard ≥ τ
    *      shares a prefix shingle, and rare-shingle buckets are small, so
    *      candidate volume collapses (a shingle in m docs otherwise spawns
    *      m² candidates);
    *   4. self-join prefixes on shingle (id_a < id_b), distinct pairs;
    *   5. exact verify via shingle-set intersection.
    *
    * `maxDocFreq > 0` additionally drops ubiquitous shingles from candidate
    * generation (approximate mode: pairs similar ONLY through stop-shingles
    * are missed; exact mode when 0).
    *
    * Returns (id_a, id_b, jaccard). Every step is a keyed shuffle or a
    * bounded per-doc window — no cross join, no driver collection. */
  def jaccardSimilarityJoin(
      docs: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame =
    // Work on 64-bit shingle fingerprints throughout: candidate generation
    // shuffles longs instead of strings, and verification intersects long
    // arrays (collision risk ~2⁻⁴⁸ per corpus — dominated by data noise).
    jaccardSimilarityJoinOnSets(shingleSets(docs, id, text, n), id, threshold, maxDocFreq)

  /** [[jaccardSimilarityJoin]] over a precomputed [[shingleSets]] frame —
    * the entry point for pipelines that reuse one materialized shingle-set
    * artifact across several dedup passes. */
  def jaccardSimilarityJoinOnSets(
      sets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame = {
    val sh = sets.select(col(id), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val prefix = rarityPrefix(sh, Seq(id), threshold, maxDocFreq)
    val candidates = prefix.select(col(id).as("id_a"), col("shingle"))
      .join(prefix.select(col(id).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, sets, id, threshold)
  }

  /** X2f — containment (quote-inclusion) join: the DIRECTED near-dup
    * relation containment(A→B) = |A∩B| / |A| ≥ threshold — "most of A's
    * shingles appear in B". Jaccard misses exactly this case: a paragraph
    * quoted inside a 100× longer document has tiny Jaccard but containment
    * ≈ 1, and it is the relation that matters for decontamination (is the
    * benchmark IN the training doc?) and boilerplate propagation.
    *
    * Candidate generation is the AllPairs prefix filter, ONE-SIDED: only
    * the contained side may drop shingles — |A∩B| ≥ ⌈t·|A|⌉ forces any
    * qualifying B to hit one of A's (|A| − ⌈t·|A|⌉ + 1) RAREST shingles,
    * while B itself gets no such bound (containment tolerates any size
    * ratio, the point of the relation). The B side therefore explodes in
    * full, but joins only on A's rare prefix shingles, so candidate fanout
    * is Σ_prefix df(shingle) — rarity-bounded, hot shingles never become
    * join keys (`maxDocFreq` additionally drops shingles above a df cap
    * from prefixes, same knob as the Jaccard join). Exact verify per
    * candidate; empty shingle sets generate no candidates (containment of
    * an empty doc is undefined, not 1).
    *
    * Output: (id_a, id_b, containment) — id_a contained in id_b; both
    * directions surface independently when mutual. */
  def containmentJoinOnSets(
      sets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val sh = sets.select(col(id), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val prefix = rarityPrefix(sh, Seq(id), threshold, maxDocFreq)
    val candidates = prefix.select(col(id).as("id_a"), col("shingle"))
      .join(sh.select(col(id).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(sets.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** X2e — substring-level duplication stats (the doc-frequency relaxation
    * of Lee et al., ACL'22 "Deduplicating Training Data Makes Language
    * Models Better": their exact-substring pass needs a corpus-wide suffix
    * array, which has no bounded-state distributed form; the standard
    * scale-out proxy scores each document by how much of it recurs
    * elsewhere). For every document: the number of distinct word n-grams,
    * how many of those also occur in ≥ 1 OTHER document, and the duplicated
    * fraction — filter on `dup_fraction` to drop boilerplate-heavy docs.
    *
    * Input is a [[shingleSets]] frame (one more consumer of the shared
    * artifact). The per-doc sets are already distinct, so the doc frequency
    * of a gram is exactly `count(*)` over the exploded frame. Three keyed
    * shuffles — explode→count on gram, the gram join (each gram joins m×1
    * against its aggregated count, never m²), regroup on id — all with
    * map-side partial aggregation; no windows, no driver state.
    *
    * Output: (id, n_grams, n_dup_grams, dup_fraction). */
  def duplicatedSpanStats(sets: DataFrame, id: String): DataFrame = {
    val ex = sets.select(col(id), explode(col("sh")).as("gram"))
    val dfreq = ex.groupBy("gram").agg(count(lit(1)).as("__df"))
    ex.join(dfreq, "gram")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_fraction",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
  }

  /** X36 — exact substring REMOVAL, the completion of
    * [[duplicatedSpanStats]]'s Lee et al. ACL'22 story: that operator only
    * SCORES how much of a document recurs; this one CUTS the recurring
    * spans out of document interiors, keeping the corpus-wide first
    * occurrence. Real pipelines cut the span, not the doc — dropping a
    * whole page over one boilerplate footer throws away the 95% that was
    * unique.
    *
    * Semantics (token-level relaxation of the suffix-array exact-substring
    * pass, which has no bounded-state distributed form): a position is
    * duplicated iff some k-token gram covering it occurs ANYWHERE else in
    * the corpus — other documents or the same document (self-repetition is
    * Lee et al.'s strongest finding). For every gram value the occurrence
    * with the minimal (doc, token offset) is canonical and survives; every
    * other occurrence marks its k token positions for removal. Maximal
    * marked runs are then cut BYTE-PRESERVINGLY by the codegen'd
    * [[graft.functions.CutTokenRuns]] expression: text outside the cuts is
    * byte-identical, separators are never re-synthesized. Overlapping
    * duplicated grams coalesce into one cut — a repeated span of L ≥ k
    * tokens is removed whole, not gram-by-gram.
    *
    * Tokenization is EXACTLY the RE2 `\s` set
    * ([[graft.functions.BpeUtil.spaceClass]], the [[TextStats.bpeTokens]]
    * convention) so an RE2-based external engine replays positions
    * identically; Java's `\s` would additionally split on \x0B and shift
    * every downstream index.
    *
    * Scale shape: grams are hashed ARRAY SLICES (two independently-salted
    * xxhash64s — the [[ngramCollisionContamination]] 128-bit fingerprint
    * rationale: no k-word strings ride the shuffle, collisions < 10⁻²⁰ at
    * web scale). Three keyed shuffles — gram-fingerprint agg (partial-agg
    * friendly: min-struct and count combine map-side), the occurrence→
    * first join (AQE handles hyper-frequent boilerplate gram skew), and
    * the per-doc regroup whose state is bounded by the doc's own token
    * count. No windows over the corpus, no driver state.
    *
    * Output: (id, text_clean, n_removed) — n_removed in tokens. */
  def removeDuplicateSpans(docs: DataFrame, id: String, text: String,
      k: Int = 13): DataFrame = {
    require(k >= 1, s"span gram size must be >= 1, got $k")
    val reserved = Seq("__t", "__o", "__pos", "__g1", "__g2", "__first", "__n", "__p", "__cov")
    require(!reserved.contains(id) && !reserved.contains(text),
      s"removeDuplicateSpans reserves column names ${reserved.mkString(", ")}")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val cls = graft.functions.BpeUtil.spaceClass
    val tr = regexp_replace(coalesce(col(text), lit("")), s"^$cls+|$cls+$$", "")
    val toksCol = when(length(tr) === 0, array().cast("array<string>"))
      .otherwise(split(tr, s"$cls+"))
    // Prune to (id, text) and spread first: the gram hashing below and the
    // cutTokenRuns re-tokenization at the end are the map-heavy stages and
    // inherit the scan's row-group-bounded parallelism otherwise (explicit
    // count — a count-less keyed repartition is AQE-coalescible right back)
    val spreadDocs = docs.select(col(id), col(text))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(id))
    // tokens materialize as an attribute FIRST: lambda bodies re-evaluate
    // non-lambda subexpressions per element (the O(tokens²) trap
    // TextStats.shingles documents)
    val toks = spreadDocs.select(col(id), toksCol.as("__t"))
    // occurrences feed BOTH the first-occurrence census and the mark join
    // — without a pin the gram-hash subtree (the expensive map pass)
    // re-evaluates once per consumer. PERSIST (not localCheckpoint): the
    // corpus×grams frame is the operator's largest, persist blocks are
    // recomputable on executor loss, and the cache is dropped below as
    // soon as the doc-sized `covered` rollup — the only consumer of both
    // reads — has materialized, instead of stranding the blocks for the
    // session lifetime.
    val occ = toks.filter(size(col("__t")) >= k)
      .select(col(id), explode(transform(
        sequence(lit(0), size(col("__t")) - k),
        p => struct(p.as("pos"),
          xxhash64(slice(col("__t"), p + 1, lit(k))).as("g1"),
          xxhash64(lit("graft-span-salt"), slice(col("__t"), p + 1, lit(k))).as("g2")))).as("__o"))
      .select(col(id), col("__o.pos").as("__pos"),
        col("__o.g1").as("__g1"), col("__o.g2").as("__g2"))
      .persist()
    val firsts = occ.groupBy("__g1", "__g2")
      .agg(min(struct(col(id), col("__pos"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    val marks = occ.join(firsts, Seq("__g1", "__g2"))
      .filter(struct(col(id), col("__pos")) =!= col("__first"))
    // covered positions per doc: bounded by each doc's own token count —
    // the ONE frame worth pinning eagerly (localCheckpoint of a doc-sized
    // rollup; executor loss re-runs this query, it cannot strand corpus-
    // sized state — the §5 trade, stated). Materializing it here is what
    // lets the corpus×grams cache above be dropped before this API
    // returns.
    val covered = marks
      .select(col(id), explode(sequence(col("__pos"), col("__pos") + lit(k - 1))).as("__p"))
      .groupBy(col(id))
      .agg(sort_array(collect_set(col("__p"))).as("__cov"))
      .localCheckpoint(true)
    occ.unpersist()
    spreadDocs.join(covered, Seq(id), "left")
      .select(col(id),
        graft.functions.GraftFunctions.cutTokenRuns(col(text),
          coalesce(col("__cov"), array().cast("array<int>"))).as("text_clean"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"))
  }

  /** Cross-corpus near-duplicate detection — the DECONTAMINATION operator:
    * all (left, right) pairs across two corpora with n-gram Jaccard ≥
    * threshold. The canonical use: `left` = training corpus, `right` =
    * evaluation/benchmark suite; every hit is a training document that
    * leaks an eval item and must be dropped before training.
    *
    * Same AllPairs prefix-filter structure as [[jaccardSimilarityJoin]] but
    * bipartite: document frequencies (the rarity order) come from the UNION
    * of both corpora so both sides rank shingles identically, each side
    * indexes only its prefix shingles, and candidates are the keyed join of
    * left prefixes to right prefixes — never |L|×|R|. The benchmark side is
    * typically tiny next to the training side; Catalyst/AQE broadcasts its
    * prefix index automatically. Pairs with equal ids across corpora are
    * NOT excluded (ids are unrelated namespaces; filter afterwards if your
    * corpora share one). Output: (id_l, id_r, jaccard). */
  def jaccardContamination(
      left: DataFrame,
      right: DataFrame,
      idL: String,
      idR: String,
      textL: String,
      textR: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame =
    jaccardContaminationOnSets(
      shingleSets(left, idL, textL, n).withColumnRenamed(idL, "__id_l"),
      shingleSets(right, idR, textR, n).withColumnRenamed(idR, "__id_r"),
      threshold, maxDocFreq)

  /** [[jaccardContamination]] over precomputed [[shingleSets]] frames (ids
    * pre-renamed to `__id_l`/`__id_r`) — reuses a materialized shingle-set
    * artifact; when the benchmark side is a slice of the training corpus the
    * SAME artifact serves both sides. */
  def jaccardContaminationOnSets(
      setsL: DataFrame,
      setsR: DataFrame,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame = {
    val shL = setsL.select(col("__id_l").as("__id"), lit("l").as("__c"),
      size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val shR = setsR.select(col("__id_r").as("__id"), lit("r").as("__c"),
      size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val prefix = rarityPrefix(shL.unionAll(shR), Seq("__c", "__id"), threshold, maxDocFreq)
    val candidates = prefix.filter(col("__c") === "l").select(col("__id").as("id_l"), col("shingle"))
      .join(prefix.filter(col("__c") === "r").select(col("__id").as("id_r"), col("shingle")),
        Seq("shingle"))
      .select("id_l", "id_r")
      .dropDuplicates("id_l", "id_r")
    verifyJaccardBipartite(candidates,
      setsL.withColumnRenamed("__id_l", "id_l"),
      setsR.withColumnRenamed("__id_r", "id_r"),
      "id_l", "id_r", threshold)
  }

  /** Exact n-gram collision decontamination — the GPT-3/PaLM-style 13-gram
    * rule, the stricter sibling of [[jaccardContamination]]: a training
    * document is contaminated iff it shares AT LEAST ONE word n-gram with
    * any benchmark document (no similarity threshold — one leaked eval
    * answer inside an otherwise-unrelated page is still a leak, which
    * set-level Jaccard dilutes past any workable threshold).
    *
    * Shape: benchmark grams distinct-ed (the benchmark suite is tiny next
    * to the training corpus, so Catalyst/AQE broadcasts it), training grams
    * exploded once, ONE keyed equi-join on the gram fingerprint — never
    * |train|×|bench|. The join key is a COMBINED 128-bit fingerprint (two
    * independently-salted xxhash64 values): a single 64-bit hash would
    * false-flag ~|train grams|·|bench grams|/2⁶⁴ clean documents at web
    * scale (10¹² × 10⁶ grams ≈ dozens of wrongly-dropped docs), while at
    * 128 bits the expected collisions are < 10⁻²⁰ — exactness without
    * shipping 13-word strings through the shuffle. Output:
    * (id, n_hit_grams) per contaminated training doc, n_hit_grams = how
    * many distinct grams leaked (triage signal: 1 ≈ quotation, hundreds ≈
    * embedded eval item). */
  def ngramCollisionContamination(
      train: DataFrame,
      trainId: String,
      trainText: String,
      bench: DataFrame,
      benchId: String,
      benchText: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val reserved = Seq("__g1", "__g2", "__tk", "__p")
    require(!reserved.contains(trainId) && !reserved.contains(benchId),
      s"ngramCollisionContamination reserves column names ${reserved.mkString(", ")}")
    // Grams are ARRAY SLICES hashed directly (xxhash64 hashes array
    // elements in sequence) — never concatenated strings: assembling
    // 13-word gram strings costs n−1 zip_with concat rounds of growing
    // allocations, while a slice copies 13 pointers and the hash reads the
    // same bytes either way. Tokens materialize as a column FIRST so the
    // slice lambda re-reads an attribute, not the tokenizer expression
    // (lambda bodies re-evaluate non-lambda subexpressions per element —
    // the O(tokens²) trap TextStats.shingles documents). Per-doc distinct
    // compares 16-byte fingerprint structs, and each gram is hashed once
    // per salt.
    def grams(docs: DataFrame, id: String, text: String) = {
      // size < n must yield NO grams: sequence(1, 0) would DESCEND ([1, 0],
      // the sampleFrames/chunk trap) and slice at index 0 throws
      val sliced = when(size(col("__tk")) < n,
          array().cast("array<array<string>>"))
        .otherwise(transform(
          sequence(lit(1), size(col("__tk")) - (n - 1)),
          i => slice(col("__tk"), i, lit(n))))
      docs.select(col(id), graft.text.TextStats.tokens(col(text)).as("__tk"))
        .select(col(id),
          explode(array_distinct(transform(sliced,
            g => struct(
              xxhash64(g).as("g1"),
              xxhash64(lit("graft-ngram-salt"), g).as("g2"))))).as("__p"))
        .select(col(id), col("__p.g1").as("__g1"), col("__p.g2").as("__g2"))
    }
    val trainGrams = grams(train, trainId, trainText)
    val benchGrams = grams(bench, benchId, benchText)
      .select("__g1", "__g2").distinct()
    trainGrams.join(benchGrams, Seq("__g1", "__g2"))
      // grams are array_distinct per doc, so a plain count is already the
      // distinct colliding-gram count
      .groupBy(col(trainId))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Rarity-ordered prefix selection — the AllPairs candidate-pruning core
    * shared by the self-join and bipartite joins. Input `sh` has one row per
    * (document, shingle) with the document's set size `sz`; output keeps,
    * per document (= per `partitionCols` group), only the
    * `sz − ⌈τ·sz⌉ + 1` globally-rarest shingles — the prefix lemma
    * guarantees any pair at Jaccard ≥ τ shares a prefix shingle. The
    * `- 1e-9` guards `⌈τ·sz⌉` against upward FP error: an over-long prefix
    * is safe, a short one breaks exactness. */
  private def rarityPrefix(sh: DataFrame, partitionCols: Seq[String],
      threshold: Double, maxDocFreq: Long): DataFrame = {
    val dfreq0 = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val dfreq = if (maxDocFreq > 0) dfreq0.filter(col("df") <= maxDocFreq) else dfreq0
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col("df").asc, col("shingle").asc)
    sh.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select((partitionCols :+ "shingle").map(col): _*)
  }

  /** Exact Jaccard verification of candidate pairs against per-doc shingle
    * sets (shared by the exact and MinHash-LSH joins): two keyed joins to
    * attach the sets, then a codegen'd array intersection per pair. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame, id: String,
      threshold: Double): DataFrame =
    verifyJaccardBipartite(candidates,
      sets.select(col(id).as("id_a"), col("sh")),
      sets.select(col(id).as("id_b"), col("sh")),
      "id_a", "id_b", threshold)

  /** General two-frame verification: `setsL`/`setsR` carry (outL|outR, sh);
    * one definition of the jaccard arithmetic serves every candidate
    * generator (self-join, MinHash, SimHash, cross-corpus). */
  private def verifyJaccardBipartite(candidates: DataFrame, setsL: DataFrame,
      setsR: DataFrame, outL: String, outR: String, threshold: Double): DataFrame =
    candidates
      .join(setsL.select(col(outL), col("sh").as("sh_a")), outL)
      .join(setsR.select(col(outR), col("sh").as("sh_b")), outR)
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col(outL), col(outR), col("jaccard"))

  /** MinHash signature: k = numHashes independent permutation-minimums over
    * the document's shingle fingerprints, hash family = xxhash64(shingle, i).
    * Pure per-row expression (array of k longs); deterministic.
    *
    * NOTE: as a per-row expression this is for small/ad-hoc use — inside a
    * multi-column projection Catalyst's CollapseProject can inline (and so
    * recompute) it per consumer. The scalable path is [[minHashSignatures]],
    * which aggregates exploded fingerprints with k codegen'd `min`s.
    * Both forms hash the 64-bit shingle FINGERPRINT with each seed, so their
    * signatures are interchangeable (probe-set vs corpus-side). */
  def minHashSignature(text: Column, n: Int = 3, numHashes: Int = 128): Column = {
    val fps = TextStats.fingerprints(text, n)
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(fps, fp => xxhash64(fp, i))))
  }

  /** MinHash signatures for a whole corpus: explode each document's distinct
    * shingle fingerprints, then one hash-aggregate with k `min(xxhash64(fp,i))`
    * columns. Everything is codegen'd; map-side partial aggregation collapses
    * each document to one k-long row per partition before the shuffle, so
    * shuffle volume is k×8 bytes per document regardless of document length.
    * Documents with fewer than n tokens produce no fingerprints and are
    * absent from the output (they have no shingle-set similarity).
    * Output: (id, sig array<long>[k]). */
  def minHashSignatures(docs: DataFrame, id: String, text: String,
      n: Int = 3, numHashes: Int = 128): DataFrame =
    minHashSignaturesOnSets(shingleSets(docs, id, text, n), id, numHashes)

  /** [[minHashSignatures]] over a precomputed [[shingleSets]] frame. */
  def minHashSignaturesOnSets(sets: DataFrame, id: String,
      numHashes: Int = 128): DataFrame =
    sets
      .select(col(id), explode(col("sh")).as("fp"))
      .groupBy(col(id))
      .agg(array((0 until numHashes).map(i => min(xxhash64(col("fp"), lit(i)))): _*).as("sig"))

  /** X2b — MinHash-LSH near-duplicate pairs: banding over the MinHash
    * signature proposes candidates, then the *exact* Jaccard over shingle
    * sets verifies them, so false positives never survive. With (b, r) =
    * (32, 4) a pair at Jaccard 0.8 is missed with probability
    * (1 − 0.8⁴)³² ≈ 5·10⁻⁸ — at threshold 0.8 the output is the exact pair
    * set, found without examining non-colliding pairs.
    *
    * Plan shape: map (signatures) → explode b bands → shuffle on
    * (band, bandHash) self-join → distinct candidates → verify. Bucket join
    * volume is governed by collisions only — EXCEPT when a bucket holds m
    * near-identical documents (web corpora have million-member exact-
    * duplicate classes): the self-join then emits m² candidates.
    * `maxBucketSize` caps that: buckets beyond the cap keep only their
    * `maxBucketSize` smallest ids (deterministic sample; drop count logged,
    * never silent), bounding candidates at cap² per bucket. The standard
    * pipeline ordering makes the cap a non-event: run EXACT dedup first
    * ([[exactKeepFirst]] on a text hash) so near-dedup never sees an exact-
    * duplicate class at all. 0 disables. Returns (id_a, id_b, jaccard). */
  def minHashLshPairs(
      docs: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      threshold: Double = 0.8,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 100000): DataFrame =
    minHashLshPairsOnSets(shingleSets(docs, id, text, n), id, threshold,
      bands, rowsPerBand, maxBucketSize)

  /** The banded-MinHash bucket keys of a corpus — `(id, band, bucket)`,
    * bands·8 bytes of LSH state per doc: the PERSISTABLE probe index for
    * cross-batch near-dup. Band i hashes signature rows [i·r, (i+1)·r);
    * the signature is an aggregation output, so band slices reference it —
    * never recomputed per band. Build once per batch, store next to it
    * (with its [[shingleSets]] frame for exact verification), and probe
    * every future batch against the union — [[incrementalNearDupNew]]
    * consumes exactly this. Also the internal candidate stage of
    * [[minHashLshPairsOnSets]], so stored state and self-join dedup can
    * never disagree on banding. */
  def nearDupBandKeys(sets: DataFrame, id: String, bands: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands/rowsPerBand must be positive, got $bands/$rowsPerBand")
    val sig = minHashSignaturesOnSets(sets, id, bands * rowsPerBand)
    sig.select(col(id),
      posexplode(array((0 until bands).map(bi =>
        xxhash64(slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand), lit(bi))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** X35 — incremental cross-batch NEAR-dup (the [[incrementalDedup]]
    * contract lifted from exact keys to near-duplicates): which new-batch
    * docs near-duplicate the EXISTING corpus, without re-scanning history
    * text. The batch's band keys probe the persisted history band table
    * ([[nearDupBandKeys]] output — the only history state the join reads);
    * candidate pairs are exact-verified against the persisted history
    * shingle sets (a keyed lookup touching candidate ids only, never a
    * history scan); batch rows with a verified j ≥ threshold history match
    * are dropped. Returns the SURVIVING batch sets rows (id, sh) — new
    * content, safe to append to the corpus (and whose band keys /
    * sets extend the state for the next batch). Run [[minHashLshPairsOnSets]]
    * within the batch first if intra-batch duplicates matter — this pass
    * is strictly batch-vs-history.
    *
    * Recall is the LSH band recall (same bands/rowsPerBand trade as
    * [[minHashLshPairs]]); verification guarantees zero false drops.
    * `maxBucketSize` caps BOTH probe sides per (band, bucket) — a history
    * mega-bucket would otherwise fan every future batch out against it
    * (logged, smallest-id-deterministic, exact-dedup-first makes it a
    * non-event). Both frames must use the same shingle n and signature
    * geometry as the stored state — the stored-state contract. */
  def incrementalNearDupNew(
      batchSets: DataFrame,
      historyBands: DataFrame,
      historySets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 100000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    def capped(df: DataFrame, tag: String): DataFrame =
      if (maxBucketSize > 0)
        graft.ops.Ops.capGroupSize(df, Seq("band", "bucket"), id,
          maxBucketSize, tag)
      else df
    val probe = capped(nearDupBandKeys(batchSets, id, bands, rowsPerBand),
      "incrementalNearDupNew.batch")
    val hist = capped(historyBands, "incrementalNearDupNew.history")
    val candidates = probe.select(col(id).as("id_new"), col("band"), col("bucket"))
      .join(hist.select(col(id).as("id_hist"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_new", "id_hist")
      .dropDuplicates("id_new", "id_hist")
    val dupIds = verifyJaccardBipartite(candidates,
        batchSets.select(col(id).as("id_new"), col("sh")),
        historySets.select(col(id).as("id_hist"), col("sh")),
        "id_new", "id_hist", threshold)
      .select(col("id_new").as(id)).distinct()
    batchSets.join(dupIds, Seq(id), "left_anti")
  }

  /** [[minHashLshPairs]] over a precomputed [[shingleSets]] frame. */
  def minHashLshPairsOnSets(
      sets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 100000): DataFrame = {
    val banded0 = nearDupBandKeys(sets, id, bands, rowsPerBand)
    val banded =
      if (maxBucketSize > 0)
        graft.ops.Ops.capGroupSize(banded0, Seq("band", "bucket"), id,
          maxBucketSize, "minHashLshPairs")
      else banded0
    val l = banded.select(col(id).as("id_a"), col("band"), col("bucket"))
    val r = banded.select(col(id).as("id_b"), col("band"), col("bucket"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // exact verification against fingerprint sets (longs, not strings)
    verifyJaccard(candidates, sets, id, threshold)
  }

  /** Connected components over a near-duplicate pair graph: every node gets
    * the minimum id reachable from it (the canonical representative of its
    * duplicate cluster). Input: `pairs` with (id_a, id_b); `nodes` supplies
    * the full id universe so singletons map to themselves.
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors; converges in
    * O(cluster diameter) rounds — near-dup clusters are shallow (diameter
    * ≤ 3-4 in practice), so a handful of rounds suffice. Each round is one
    * keyed shuffle; lineage truncation per round
    * ([[graft.core.Checkpointing.loop]]: `localCheckpoint` by default,
    * reliable `checkpoint` when `checkpointDir` is given — the multi-node
    * choice, since localCheckpoint pins partitions to executors and an
    * executor loss kills the lineage) keeps round N from replaying rounds
    * 1..N-1. (The large-star/small-star algorithm of Kiveris et al. halves
    * round count for adversarial graphs; plain propagation is the right
    * trade for shallow duplicate clusters.)
    * Output: (id, component). */
  def connectedComponents(
      pairs: DataFrame,
      nodes: DataFrame,
      id: String,
      maxIterations: Int = 10,
      checkpointDir: Option[String] = None): DataFrame = {
    // Persist AND materialize the (possibly expensive) pair plan before the
    // union — if the cache were still lazy, both union branches would race
    // to fill it inside one job and each recompute the full similarity join.
    val p = pairs.select(col("id_a"), col("id_b")).persist()
    p.count()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist()
    // Only nodes that appear in an edge can change label — iterate over that
    // (typically tiny) subgraph and union untouched singletons at the end.
    // Near-dup graphs are sparse: the active set is O(duplicates), so the
    // iteration joins run on duplicate-sized, usually broadcastable frames.
    val edgeNodes = edges.select(col("src").as(id)).distinct()
    val singletons = nodes.select(col(id))
      .join(edgeNodes, Seq(id), "left_anti")
      .select(col(id), col(id).as("component"))
    // The result is truncated BEFORE the caches drop: the singletons branch
    // reads edges, so dropping them first would silently re-run the
    // (expensive) pair plan at the caller's first action.
    try Checkpointing.loop(
        edgeNodes.select(col(id), col(id).as("component"),
          lit(true).as("__changed")),
        checkpointDir, maxIterations,
        AtCap.Refuse(() => new IllegalStateException(
          s"connectedComponents did not converge in $maxIterations rounds - " +
            "a duplicate chain is longer than maxIterations; raise it " +
            "(rounds needed = cluster diameter)")),
        Seq(count(when(col("__changed"), lit(1)))), truncateResult = true)(
      step = r => {
        val labels = r.frame
        // each node's candidate label: min over neighbors' labels
        val fromNeighbors = edges
          .join(labels.select(col(id).as("dst"), col("component")), "dst")
          .groupBy(col("src").as(id))
          .agg(min(col("component")).as("nbr_component"))
        // The per-node changed flag rides inside the same frame, so the
        // convergence probe is an aggregate over the round's own data —
        // no second label-vs-label join shuffle per round (which at corpus
        // scale would double the per-round cost just to ask "did anything
        // move?").
        labels
          .join(fromNeighbors, Seq(id), "left")
          .select(col(id),
            least(col("component"), coalesce(col("nbr_component"), col("component")))
              .as("component"),
            (col("nbr_component").isNotNull && col("nbr_component") < col("component"))
              .as("__changed"))
      },
      stop = (_, changed) => changed.getLong(0) == 0L,
      result = _.frame.drop("__changed").unionAll(singletons))
    finally { edges.unpersist(); p.unpersist() }
  }

  /** X40 — alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014).
    * Same contract as [[connectedComponents]] — (id, component = minimum
    * reachable id) — but round count is O(log² n) REGARDLESS OF GRAPH
    * DIAMETER, where min-label propagation pays one shuffle round per hop of
    * the longest duplicate chain. That is the 100 TB difference: a crawl
    * corpus's near-dup graph routinely contains long mutation chains
    * (template v1 ≈ v2 ≈ … ≈ v500) whose diameter-many propagation rounds
    * each re-shuffle the whole edge list; star contraction collapses such a
    * chain in a logarithmic number of rounds. Skew is also structurally
    * better: large-star re-points every bigger neighbor of a hub at the
    * hub's minimum, so a hot node's edges disperse to its (smaller) center
    * instead of re-converging on it round after round.
    *
    * Each phase is one groupBy-min shuffle + one keyed join back — no
    * neighbor-list collection, so a hub's degree never materializes in one
    * task's memory. Edges stay canonical (big, small) throughout:
    *  - LARGE-STAR over the doubled neighbor frame: every neighbor v > u
    *    re-links to m = min(Γ(u) ∪ {u}); emitted (v, m) has v > u ≥ m.
    *  - SMALL-STAR over the (big → small) direction only: center u and its
    *    smaller neighbors all re-link to their minimum m; emitted pairs
    *    (u, m) and (v, m) for v ∈ Γ⁻(u) \ {m} keep big > small.
    * Convergence = the canonical edge set is a fixed point, detected by a
    * (count, two salted hash-XORs) checksum — an aggregate-sized action per
    * round, never an edge-set self-join (XOR, not sum: the edges are
    * DISTINCT, so XOR is a sound set checksum, order-independent, and
    * cannot overflow under ANSI arithmetic). At the fixed point the edges are
    * exactly the stars (member → component minimum), which IS the label
    * frame; singletons from `nodes` union in as themselves, as in
    * [[connectedComponents]]. Min-based re-pointing makes every round
    * deterministic under any partitioning, retry, or engine.
    * Output: (id, component). */
  def connectedComponentsStar(
      pairs: DataFrame,
      nodes: DataFrame,
      id: String,
      maxIterations: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val canon = pairs.filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
    Checkpointing.loop(canon, checkpointDir, maxIterations,
        AtCap.Refuse(() => new IllegalStateException(
          s"connectedComponentsStar did not converge in $maxIterations " +
            "alternation rounds - raise maxIterations (rounds needed is " +
            "logarithmic in component size)")),
        Seq(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))),
          bit_xor(xxhash64(lit(0x9e3779b9L), col("u"), col("v")))))(
      step = r => {
        val edges = r.frame
        // LARGE-STAR: per center u (both directions), neighbors bigger than
        // u re-link to the neighborhood minimum m ≤ u.
        val nbrs = edges.select(col("u"), col("v"))
          .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
        val lsMins = nbrs.groupBy("u")
          .agg(least(min(col("v")), col("u")).as("m"))
        val afterLs = nbrs.filter(col("v") > col("u"))
          .join(lsMins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        // SMALL-STAR: per center u over its smaller neighbors (every
        // canonical edge appears exactly once here, keyed by its bigger
        // endpoint), the center and all of Γ⁻(u) re-link to m = min(Γ⁻(u)).
        val ssMins = afterLs.groupBy("u").agg(min(col("v")).as("m"))
        afterLs.join(ssMins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionAll(ssMins.select(col("u"), col("m").as("v")))
          .distinct()
      },
      // the (count, two salted XORs) checksum repeating: a fixed point
      stop = _ == _,
      result = r => {
        // contraction keeps every edge endpoint (each node still links to
        // its component minimum), so the stars cover the original
        // endpoints and the singletons are the nodes they do not cover
        val stars = r.frame.select(col("u").as(id), col("v").as("component"))
          .unionAll(r.frame.select(col("v")).distinct()
            .select(col("v").as(id), col("v").as("component")))
        stars.unionAll(nodes.select(col(id))
          .join(stars.select(col(id)), Seq(id), "left_anti")
          .select(col(id), col(id).as("component")))
      })
  }

  /** X1b — LINE-level exact dedup (the C4/RefinedWeb boilerplate-removal
    * pass): every line that occurs anywhere else in the corpus keeps only
    * its FIRST occurrence (ordered by (id, line position)); each document is
    * reassembled from its surviving lines. Removes repeated navigation/
    * footer/cookie-banner lines that document-level dedup can't touch.
    *
    * Shape: posexplode lines → `min(struct(id, pos))` per line (an
    * aggregate, NOT a window — map-side partial aggregation collapses a
    * line occurring millions of times to one candidate per partition, the
    * hot-key-safe form [[exactKeepFirst]] uses) → keep the winners →
    * reassemble per doc with a sorted collect_list (bounded by lines per
    * document, never corpus-sized). BLANK lines are exempt from the contest
    * (a paragraph separator is structure, not boilerplate — deduping it
    * would reflow every document after the first) and pass straight through
    * to reassembly. The exploded frame feeds both the contest and the
    * reassembly join, so it is persisted — one corpus explode, not two.
    * Documents whose every line was claimed elsewhere survive with empty
    * text. `id` values must be UNIQUE and NON-NULL ("first occurrence" is
    * only well-defined then — the packSequences contract).
    * Output: (id, clean_text). */
  def dedupLines(docs: DataFrame, id: String, text: String): DataFrame = {
    require(!Seq("pos", "col", "clean_text").contains(id),
      s"id column '$id' collides with dedupLines' generated columns")
    val lines = docs
      .select(col(id), posexplode(split(col(text), "\n")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blank = length(trim(col("__line"))) === 0
    val first = lines.filter(!blank).groupBy(col("__line"))
      .agg(min(struct(col(id).as("i"), col("__pos").as("p"))).as("__first"))
    val kept = lines.filter(!blank).join(first, "__line")
      .filter(col(id) === col("__first").getField("i") &&
        col("__pos") === col("__first").getField("p"))
      .select(col(id), col("__pos"), col("__line"))
      .unionAll(lines.filter(blank).select(col(id), col("__pos"), col("__line")))
    val reassembled = kept.groupBy(col(id))
      .agg(concat_ws("\n",
        transform(
          array_sort(collect_list(struct(col("__pos").as("p"), col("__line").as("l")))),
          x => x.getField("l"))).as("clean_text"))
    docs.select(col(id))
      .join(reassembled, Seq(id), "left")
      .select(col(id), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** 64-bit SimHash over the document's shingle fingerprints: bit i of the
    * output is 1 iff more fingerprints have bit i set than clear. Near-
    * duplicate docs differ in few bits (small Hamming distance). Pure
    * per-row higher-order expression — no shuffle, no UDF. */
  def simHash(text: Column, n: Int = 3): Column = {
    val fps = TextStats.fingerprints(text, n)
    // shift amounts must be static ints → unroll the 64 bit positions in Scala
    val counts = aggregate(
      fps,
      array((0 until 64).map(_ => lit(0)): _*),
      (acc, f) => array((0 until 64).map(i =>
        element_at(acc, i + 1) +
          when(shiftright(f, i).bitwiseAND(1) === 1, 1).otherwise(-1)): _*))
    (0 until 64).map(i =>
        when(element_at(counts, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash signatures for a whole corpus: explode fingerprints, aggregate
    * 64 codegen'd `sum(±1)` bit counters per document, assemble the 64-bit
    * signature. Same numbers as [[simHash]], but partial aggregation keeps
    * per-document shuffle state at 64 longs and everything in codegen
    * (the per-row higher-order form interprets an O(64²) lambda per shingle).
    * Output: (id, sig long). */
  def simHashes(docs: DataFrame, id: String, text: String, n: Int = 3): DataFrame =
    simHashesOnSets(shingleSets(docs, id, text, n), id)

  /** [[simHashes]] over a precomputed [[shingleSets]] frame. */
  def simHashesOnSets(sets: DataFrame, id: String): DataFrame = {
    val counts = (0 until 64).map(i =>
      sum(when(shiftright(col("fp"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"c$i"))
    sets
      .select(col(id), explode(col("sh")).as("fp"))
      .groupBy(col(id))
      .agg(counts.head, counts.tail: _*)
      .select(col(id),
        (0 until 64).map(i =>
            when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** X2c' — SimHash-blocked near-duplicate pairs with EXACT verification:
    * SimHash quarter-blocking proposes candidates (Hamming ≤ maxHamming),
    * exact n-gram Jaccard over shingle sets verifies them — the same
    * candidates→verify shape as [[minHashLshPairs]]. False positives never
    * survive; a true pair is missed only if its simhashes differ in more
    * than `maxHamming` bits (rare for near-identical text — simhash
    * concentrates Hamming distance near (1−j)·64/2 for Jaccard j). Output
    * (id_a, id_b, jaccard) is hash-free and therefore engine-portable —
    * checkable against the same brute-force oracle as the exact join. */
  def simHashNearDupPairs(
      docs: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxHamming: Int = 3): DataFrame =
    simHashNearDupPairsOnSets(shingleSets(docs, id, text, n), id, threshold, maxHamming)

  /** [[simHashNearDupPairs]] over a precomputed [[shingleSets]] frame. */
  def simHashNearDupPairsOnSets(
      sets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      maxHamming: Int = 3): DataFrame =
    simHashNearDupPairsOnSigs(simHashesOnSets(sets, id), sets, id,
      threshold, maxHamming)

  /** [[simHashNearDupPairsOnSets]] with the signatures supplied — the
    * two-artifact pipeline shape: sigs (8 bytes/doc, for blocking) and
    * shingle sets (for exact verification) are both pure functions of the
    * text, materialized once and reused across operating points. */
  def simHashNearDupPairsOnSigs(
      sigs: DataFrame,
      sets: DataFrame,
      id: String,
      threshold: Double = 0.8,
      maxHamming: Int = 3): DataFrame = {
    val candidates = simHashPairsOnSigs(sigs, id, maxHamming)
      .select("id_a", "id_b")
    verifyJaccard(candidates, sets, id, threshold)
  }

  /** X2c — SimHash near-duplicate pairs: pairs within `maxHamming` bits.
    * Candidate generation blocks on the four 16-bit quarters of the simhash
    * (pigeonhole: Hamming ≤ 3 ⇒ at least one of 4 quarters identical), so the
    * join is keyed, never crossed. Returns (id_a, id_b, hamming). */
  def simHashPairs(
      docs: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      maxHamming: Int = 3): DataFrame =
    simHashPairsOnSets(shingleSets(docs, id, text, n), id, maxHamming)

  /** [[simHashPairs]] over a precomputed [[shingleSets]] frame. */
  def simHashPairsOnSets(
      sets: DataFrame,
      id: String,
      maxHamming: Int = 3): DataFrame =
    simHashPairsOnSigs(simHashesOnSets(sets, id), id, maxHamming)

  /** [[simHashPairsOnSets]] over precomputed (id, sig) signatures — the
    * materialized-artifact entry: signatures are a pure function of the
    * shingle set, so real pipelines store them once (8 bytes/doc) and
    * re-block at will without touching text again.
    *
    * maxHamming = 0 (exact-signature duplicates) blocks on the FULL 64-bit
    * signature — one keyed join, no quarter explode, no pair dedup (a
    * pair collides in exactly one block). Otherwise the standard
    * pigeonhole quarter-blocking: hamming ≤ 3 over 4 disjoint 16-bit
    * quarters forces at least one identical quarter. */
  def simHashPairsOnSigs(
      sigs: DataFrame,
      id: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (quarter-blocking is sound only up to 3), got $maxHamming")
    if (maxHamming == 0) {
      val l = sigs.select(col(id).as("id_a"), col("sig"))
      val r = sigs.select(col(id).as("id_b"), col("sig"))
      return l.join(r, Seq("sig"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    }
    val blocked = sigs.select(col(id), col("sig"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("sig"), q * 16).bitwiseAND(0xFFFF)): _*)))
      .withColumnRenamed("pos", "quarter").withColumnRenamed("col", "block")
    val l = blocked.select(col(id).as("id_a"), col("sig").as("sig_a"), col("quarter"), col("block"))
    val r = blocked.select(col(id).as("id_b"), col("sig").as("sig_b"), col("quarter"), col("block"))
    l.join(r, Seq("quarter", "block"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
