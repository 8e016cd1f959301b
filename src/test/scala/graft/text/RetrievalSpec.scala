package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark join hash join"),       // dl=4, tf(join)=2, tf(spark)=1
    (2L, "join"),                       // dl=1, tf(join)=1
    (3L, "hash hash hash hash"),        // dl=4, tf(hash)=4
    (4L, "scan filter sort"),           // no query term
    (5L, "")                            // empty doc
  ).toDF("doc_id", "text")

  /** Reference BM25 (Lucene idf variant), mirroring the operator's
    * round-then-sum-exact contract. */
  private def bm25Ref(terms: Seq[(Int, Int)], n: Long, avgdl: Double, dl: Int,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val s = terms.map { case (tf, df) =>
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      val c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    s.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("bm25TopK scores match the closed form; no-term docs excluded") {
    val out = Retrieval.bm25TopK(docs, "doc_id", col("text"),
        Seq("join", "spark"), k = 10)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    // docs 3 (hash only), 4, 5 contain no query term
    assert(out.map(_._1).toSet == Set(1L, 2L))
    val n = 5L; val avgdl = 12.0 / 5 // dl: 4+1+4+3+0
    // df(join)=2, df(spark)=1
    val d1 = bm25Ref(Seq((2, 2), (1, 1)), n, avgdl, 4)
    val d2 = bm25Ref(Seq((1, 2)), n, avgdl, 1)
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(byId(1L) == d1, s"doc 1: got ${byId(1L)}, want $d1")
    assert(byId(2L) == d2, s"doc 2: got ${byId(2L)}, want $d2")
    // rank follows (score desc, id asc)
    val ranked = out.sortBy(_._3).map(_._1).toSeq
    assert(ranked == (if (d1 >= d2) Seq(1L, 2L) else Seq(2L, 1L)))
  }

  test("bm25TopK cuts at k deterministically and plans a bounded top-k") {
    val corpus = (1L to 50L).map(i => (i, "join " * i.toInt)).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(corpus, "doc_id", col("text"), Seq("join"), k = 7)
    assert(out.count() == 7)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian product:\n$plan")
  }

  test("bm25TopK rejects bad arguments") {
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(docs, "doc_id", col("text"), Nil))
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(docs, "doc_id", col("text"), Seq("join"), k = 0))
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(docs, "doc_id", col("text"), Seq("join"), b = 1.5))
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(docs.withColumnRenamed("doc_id", "__tf"), "__tf",
        col("text"), Seq("join")))
    intercept[IllegalArgumentException]( // repeated term would silently score once
      Retrieval.bm25TopK(docs, "doc_id", col("text"), Seq("join", "join")))
    intercept[IllegalArgumentException]( // whitespace term can never match a token
      Retrieval.bm25TopK(docs, "doc_id", col("text"), Seq("hash join")))
  }

  test("rrfFuse: hand arithmetic, tie -> id asc, single-system docs kept (X68)") {
    // k0 = 60: contributions 1e6 DIV 61 = 16393, DIV 62 = 16129, DIV 63 = 15873
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (1L, 2)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), "doc_id", k0 = 60, topK = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // docs 1 and 2 tie at 16393 + 16129 = 32522 -> id asc breaks it
    assert(got == Seq((1L, 32522L, 2L), (2L, 32522L, 2L), (3L, 15873L, 1L)))
    // topK cuts after the tie-broken order
    val cut = Retrieval.rrfFuse(Seq(a, b), "doc_id", k0 = 60, topK = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(cut == got.take(2))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Nil, "doc_id"))
    intercept[IllegalArgumentException](
      Retrieval.rrfFuse(Seq(a), "doc_id", k0 = -1))
    intercept[IllegalArgumentException](
      Retrieval.rrfFuse(Seq(a), "doc_id", topK = 0))
  }

  test("inverted index: indexed BM25 ≡ scan BM25; term filter pushed (X72)") {
    val dir = graft.core.Scratch.workDir("ii").resolve("idx").toString
    InvertedIndex.build(docs, "doc_id", "text", dir, shards = 2)
    // postings carry the denormalized doc length and exact tfs
    val postings = spark.read.parquet(s"$dir/postings")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(postings.contains(("join", 1L, 2L, 4L)), s"postings: $postings")
    assert(postings.contains(("hash", 3L, 4L, 4L)))
    // empty doc contributes no postings but counts in the stats
    val (n, sumdl) = spark.read.parquet(s"$dir/stats")
      .as[(Long, Long)].collect().head
    assert((n, sumdl) == (5L, 12L))
    // the index-correctness contract: indexed == scan, row for row
    val idx = InvertedIndex.bm25TopK(spark, dir, Seq("join", "hash"), k = 4)
      .as[(Long, Double, Int)].collect().toSeq
    val scan = Retrieval.bm25TopK(docs, "doc_id", col("text"),
        Seq("join", "hash"), k = 4)
      .as[(Long, Double, Int)].collect().toSeq
    assert(idx == scan, s"index diverged:\n  idx  $idx\n  scan $scan")
    // the asymptote: the term predicate reaches the postings scan PUSHED
    val p = InvertedIndex.bm25TopK(spark, dir, Seq("join", "hash"), k = 4)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[In\\(term".r.findFirstIn(p).isDefined,
      s"term filter not pushed into the postings scan:\n$p")
    assert("FileScan parquet".r.findAllIn(p).count(_ => true) <= 3,
      s"unexpected extra scans:\n$p")
    // contracts shared with the scan face
    intercept[IllegalArgumentException](
      InvertedIndex.bm25TopK(spark, dir, Nil))
    intercept[IllegalArgumentException](
      InvertedIndex.bm25TopK(spark, dir, Seq("a", "a")))
    intercept[IllegalArgumentException](
      InvertedIndex.bm25TopK(spark, dir, Seq("two words")))
  }

  test("segmented index: exactly-once commits, merge-stable, ≡ scan (X72⊗X59)") {
    val dir = graft.core.Scratch.workDir("iiseg").toString
    val b0 = docs.filter(col("doc_id") <= 2)
    val b1 = docs.filter(col("doc_id") > 2)
    assert(InvertedIndex.indexSegment(spark, dir, 0L, b0, "doc_id", "text"))
    assert(InvertedIndex.indexSegment(spark, dir, 1L, b1, "doc_id", "text"))
    // replay no-ops WITHOUT building the batch plan (docs is by-name)
    assert(!InvertedIndex.indexSegment(spark, dir, 0L,
      sys.error("replay built the batch"), "doc_id", "text"))
    val before = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    // the segmented answer IS the scan answer — cross-segment df/avgdl
    // arithmetic must see the union, not per-segment corpora
    val scan = Retrieval.bm25TopK(docs, "doc_id", col("text"),
        Seq("join", "hash"), k = 4)
      .as[(Long, Double, Int)].collect().toSeq
    assert(before == scan, s"segmented diverged:\n  seg  $before\n  scan $scan")
    // merge folds both ledgers; the answer does not move
    assert(InvertedIndex.compactSegments(spark, dir, maxDeltas = 0))
    val after = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    assert(after == before, "segment merge changed the answer")
    // a post-merge arrival continues the segment sequence
    assert(InvertedIndex.indexSegment(spark, dir, 2L,
      Seq((9L, "hash join hash")).toDF("doc_id", "text"), "doc_id", "text"))
    val grown = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 6).as[(Long, Double, Int)].collect().toSeq
    assert(grown.exists(_._1 == 9L), s"new segment's doc missing: $grown")
  }

  test("index tombstones: mask-at-query, physical drop at merge, lifetime scalars (X72)") {
    val dir = graft.core.Scratch.workDir("iidel").toString
    assert(InvertedIndex.indexSegment(spark, dir, 0L,
      docs.filter(col("doc_id") <= 2), "doc_id", "text"))
    assert(InvertedIndex.indexSegment(spark, dir, 1L,
      docs.filter(col("doc_id") > 2), "doc_id", "text"))
    val full = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    assert(full.exists(_._1 == 3L), s"doc 3 should match pre-delete: $full")
    // tombstone doc 3 (indexed in segment 1); replay no-ops frame-free
    assert(InvertedIndex.deleteDocs(spark, dir, 0L,
      Seq(3L, 99L).toDF("doc_id"))) // an unknown id tombstones harmlessly
    assert(!InvertedIndex.deleteDocs(spark, dir, 0L,
      sys.error("replay built the delete frame")))
    val masked = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    assert(!masked.exists(_._1 == 3L), s"tombstoned doc survived: $masked")
    // lifetime scalars: survivors keep their PRE-delete scores — only
    // per-term df moves (here 'join' df is unchanged by doc 3; 'hash'
    // drops), so doc 1's total may shift ONLY through df, never n/avgdl.
    // Pin the strongest invariant cheaply: doc 2 matches only 'join',
    // whose df is unchanged, so its score must be bit-identical.
    val s2Before = full.find(_._1 == 2L).get._2
    val s2After = masked.find(_._1 == 2L).get._2
    assert(s2After == s2Before,
      s"a delete re-normalized an untouched doc: $s2Before -> $s2After")
    // merge applies the mask physically and clears the tombstones
    assert(InvertedIndex.compactSegments(spark, dir, maxDeltas = 0))
    assert(graft.core.Table(spark, dir, "ii_deletes").readLedger.count() == 0)
    assert(graft.core.Table(spark, dir, "ii_postings").readLedger
      .filter(col("doc_id") === 3L).count() == 0)
    val merged = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    assert(merged == masked, "merge changed the masked answer")
    // the delete-id sequence continues after the clear
    assert(InvertedIndex.deleteDocs(spark, dir, 1L, Seq(2L).toDF("doc_id")))
    val again = InvertedIndex.bm25TopKSegmented(spark, dir,
      Seq("join", "hash"), k = 4).as[(Long, Double, Int)].collect().toSeq
    assert(!again.exists(_._1 == 2L), s"post-clear tombstone ignored: $again")
  }

  test("tombstone clear preserves delete batches past the applied bound (X72)") {
    // a deleteDocs batch that commits between compactSegments' snapshot
    // and its clearing fold must SURVIVE the clear (else its docs are
    // permanently resurrected) — replayed here with an explicit applied
    // bound: the clear saw only delta 0 applied, delta 1 raced in
    val dir = graft.core.Scratch.workDir("iirace").toString
    val t = graft.core.Table(spark, dir, "ii_deletes")
    assert(t.ledgerAppendIfAbsent(0L, Seq(1L, 2L).toDF("doc_id")))
    assert(t.ledgerAppendIfAbsent(1L, Seq(3L).toDF("doc_id")))
    assert(InvertedIndex.clearAppliedTombstones(t, m0 = 0L))
    assert(t.readLedger.as[Long].collect().toSeq == Seq(3L),
      "racing delete batch was destroyed by the clear")
    // the preserved batch now lives in the base with NO live delta: the
    // clear arms the fold with one empty delta (id 2) and the base still
    // empties — base-resident applied tombstones no longer wait for the
    // next delete batch to happen to land
    assert(InvertedIndex.clearAppliedTombstones(t, m0 = 1L))
    assert(t.readLedger.count() == 0L)
    // an empty base stays a listing-only no-op (nothing to arm for)
    assert(!InvertedIndex.clearAppliedTombstones(t, m0 = 2L))
    // the id sequence continues past the arming delta
    assert(t.ledgerAppendIfAbsent(3L, Seq(4L).toDF("doc_id")))
    assert(InvertedIndex.clearAppliedTombstones(t, m0 = 3L))
    assert(t.readLedger.count() == 0L)
  }

  test("rrfFuse rejects a ranking that lists an id twice (X68)") {
    val clean = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    // a duplicated id would fold two reciprocals into one inflated score —
    // the guard convicts INSIDE the fusion aggregation (row count vs
    // system-bit popcount), so it costs zero extra jobs and surfaces at
    // the action, naming the id
    val dup = Seq((7L, 1), (7L, 2), (2L, 3)).toDF("doc_id", "rank")
    refused("id 7", "more than once")(
      Retrieval.rrfFuse(Seq(clean, dup), "doc_id").collect())
    // the refusal survives a projection that drops the fused score
    refused("id 7", "more than once")(
      Retrieval.rrfFuse(Seq(clean, dup), "doc_id").select("doc_id").collect())
    // clean inputs fuse normally, and ids shared ACROSS rankings are fine
    assert(Retrieval.rrfFuse(Seq(clean, clean), "doc_id").count() == 2)
    // the 63-ranking bitmask cap is an eager contract
    val many = Seq.fill(64)(clean)
    intercept[IllegalArgumentException](Retrieval.rrfFuse(many, "doc_id"))
  }
}
