package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Physical-plan shape assertions for the properties the 100 TB design
  * depends on. A query can be value-correct and still carry a plan that
  * collapses at scale (filter not pushed, dim not broadcast, global sort
  * where a bounded top-k was intended); these specs pin the plan, so a
  * regression fails CI instead of surfacing as a cluster incident.
  *
  * All assertions run against the sf0.001 fixture — plan SHAPE is
  * data-size-independent (modulo AQE join re-planning, which only upgrades
  * sort-merge → broadcast, never the reverse).
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("q02: filter and projection push into the parquet scan") {
    val p = plan(q("q02_filter_project"))
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThan(l_quantity"), s"quantity filter not pushed:\n$p")
    // projection pruning: the scan must read only the 5 selected columns,
    // not lineitem's full 16-column schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_discount") && !readSchema.contains("l_tax"),
      s"scan reads pruned columns:\n$readSchema")
  }

  test("q05: both dimension joins broadcast; no sort-merge join") {
    val p = plan(q("q05_customer_geo"))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to sort-merge:\n$p")
  }

  test("q07: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(q("q07_top_customers"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
  }

  test("q01: aggregation is partial before the shuffle (map-side combine)") {
    val p = plan(q("q01_pricing_summary"))
    // HashAggregate appears twice per aggregate (partial + final) with the
    // exchange between them carrying only group-sized state
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q43: sequence packing has no single-partition exchange") {
    val p = plan(q("q43_sequence_packing"))
    assert(!p.contains("SinglePartition"), s"global window leaked back in:\n$p")
  }

  test("ivfTopK: no exchange between corpus scan and cell assignment") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // reproduce the assignment stage plan in isolation: scan -> project(cell)
    // must be exchange-free. The full query then only shuffles in the
    // bounded top-k merge.
    val full = plan(q("q38_ann_ivf"))
    // assignment is a literal-codebook argmax: the corpus side reaches its
    // broadcast join without any hashpartitioning on the corpus id
    assert(!full.contains("hashpartitioning(vec_id"),
      s"corpus shuffled before/at assignment:\n$full")
  }

  test("exact dedup: single keyed shuffle, no global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.dedup.Dedup.exactKeepFirst(docs, Seq("text"), col("doc_id")))
    assert(!p.contains("SinglePartition"), s"dedup funnelled to one task:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly one shuffle:\n$p")
  }

  test("q49/q50/q51: temporal and cross-corpus joins never plan a cross product") {
    for (name <- Seq("q49_asof_join", "q50_range_join", "q51_decontamination")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested loop:\n$p")
      assert(!p.contains("SinglePartition"), s"$name funnels to one task:\n$p")
    }
  }

  test("q25: term frequency shuffle carries aggregated state, not tokens") {
    val p = plan(q("q25_term_frequency"))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, s"missing agg/exchange:\n$p")
    // partial aggregation must sit below (after, in toString order) the
    // exchange: the shuffle moves (token, partial count), not raw tokens
    assert(p.lastIndexOf("HashAggregate") > exchange, s"no map-side combine:\n$p")
  }

  test("scrubPii / nfc_normalize: map-only codegen stages fused into the scan") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cleaned = Seq(
      docs.select(col("doc_id"), graft.text.TextStats.scrubPii(col("text")).as("t")),
      docs.select(col("doc_id"),
        graft.functions.GraftFunctions.nfcNormalize(col("text")).as("t")))
    for (df <- cleaned) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"map-only transform shuffles:\n$p")
      // "*(n)" prefixes = operators inside a WholeStageCodegen span
      assert(p.contains("*(1) Project"), s"fell out of codegen:\n$p")
    }
  }

  test("q55: repetition stats aggregate partially before both shuffles") {
    val p = plan(q("q55_repetition"))
    // two keyed aggregations (doc,gram) then (doc): each must have a partial
    // HashAggregate below its exchange so shuffles carry gram-sized state
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"missing partial aggs:\n$p")
    assert(!p.contains("SinglePartition"), s"funnelled to one task:\n$p")
  }

  test("sampling: the hash filter is map-only — no exchange, inside codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Sampling.sampleByHash(docs, col("doc_id"), 0.25, "s"))
    assert(!p.contains("Exchange"), s"map-only sample shuffles:\n$p")
    assert(p.contains("*(1)"), s"sample filter fell out of codegen:\n$p")
    // split assignment and mixing are the same shape: pure projections
    val p2 = plan(graft.ops.Sampling.assignSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    assert(!p2.contains("Exchange"), s"split assignment shuffles:\n$p2")
  }

  test("q64: the upsert anti-join broadcasts the delta side") {
    val p = plan(q("q64_upsert"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"delta side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base corpus shuffled for the delta:\n$p")
  }

  test("q65: centroid aggregation is partial below the exchange") {
    val p = plan(q("q65_label_centroids"))
    // typed Aggregator plans as ObjectHashAggregate: partial + final, with
    // the exchange between them carrying one dim-length buffer per
    // (partition, label) — NOT the member vectors
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial vector aggregation:\n$p")
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val exchange = p.indexOf("Exchange hashpartitioning(label")
    assert(firstAgg >= 0 && exchange >= 0,
      s"missing agg or label exchange:\n$p")
  }

  test("q70: the whole validation report is ONE aggregation over ONE scan") {
    val p = plan(q("q70_validation_report"))
    // one scan of lineitem no matter how many checks (the single-pass claim);
    // distinct aggregates plan via Expand, still over that one scan
    assert("Scan parquet".r.findAllIn(p).size == 1, s"validation re-scans:\n$p")
    assert(!p.contains("Join"), s"checks must not join:\n$p")
  }

  test("q71: quarantine is map-only — no exchange below the sort") {
    val p = plan(q("q71_quarantine"))
    // the only exchange allowed is the final presentation orderBy
    val body = p.substring(p.indexOf("Sort"))
    assert("Exchange".r.findAllIn(body).size <= 1,
      s"quarantine shuffled beyond the presentation sort:\n$p")
    assert(p.contains("PushedFilters"), s"violation predicate not pushed:\n$p")
  }

  test("semDedup: assignment is map-only; pair join keyed on the cell") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the capped-assignment stage in isolation (what every downstream pair
    // consumes): scan -> literal-codebook argmax must be exchange-free
    val assignedPlan = plan(emb.select(col("vec_id"),
      org.apache.spark.sql.functions.element_at(
        graft.sim.Similarity.nearestCells(
          Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))),
          col("embedding"), 1), 1).as("__cell")))
    assert(!assignedPlan.contains("Exchange"),
      s"cell assignment shuffled the corpus:\n$assignedPlan")
    // the full operator never plans a cross product: candidates come from
    // the keyed (__cell) self-join only
    val p = plan(graft.sim.Similarity.semDedup(emb, "vec_id", "embedding",
      threshold = 0.9, nCentroids = 4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semDedup planned a cross product:\n$p")
  }

  test("q73: bloom prefilter keeps the fresh path join-free; history never shuffles") {
    val p = plan(q("q73_incremental_dedup"))
    // the fresh branch is filter-only (bloom_might_contain negated, fused
    // into codegen); exactly one anti-join exists — the candidate confirm
    assert(p.contains("bloom_might_contain") || p.contains("BloomMightContain"),
      s"bloom probe missing from plan:\n$p")
    assert("LeftAnti".r.findAllIn(p).size == 1,
      s"expected exactly one confirm anti-join:\n$p")
    // both confirm joins are broadcast: history reaches its semi-scan with
    // no Exchange (the candidate keys travel to it, never the reverse)
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(p).nonEmpty,
      s"history semi-scan not broadcast:\n$p")
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).nonEmpty,
      s"confirm anti-join not broadcast:\n$p")
  }

  test("q80: weighted sample is a bounded top-k, not a global sort") {
    val p = plan(q("q80_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample fell back to a global sort:\n$p")
  }

  test("q81: temperature rebalance broadcasts the rate table; filter map-only") {
    val p = plan(q("q81_temperature_rebalance"))
    // the rates frame joins back by broadcast — the corpus is never
    // exchanged for the join (the only exchange is the final group count)
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rate join shuffled the corpus:\n$p")
  }

  test("q85: outlier flag keeps the stats join broadcast and the compare map-only") {
    val p = plan(q("q85_token_outliers"))
    assert(p.contains("BroadcastHashJoin"), s"stats frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join shuffled the corpus:\n$p")
    assert(!p.contains("Window"), s"outlier flag must not use a window:\n$p")
  }

  test("q90: winsorize thresholds broadcast; clip never shuffles the corpus") {
    val p = plan(q("q90_winsorize"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"threshold frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"clip shuffled the corpus:\n$p")
  }

  test("q95: the SCD-2 close-out join broadcasts the delta side (via AQE)") {
    val df = q("q95_scd2_history")
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"delta side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"history shuffled for the close-out:\n$p")
  }

  test("fuzzyJoin: candidates come from a keyed variant join, never a cross product") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val p = plan(graft.ops.FuzzyJoin.fuzzyJoin(c, "c_custkey", "c_name",
      c, "c_custkey", "c_name", maxDist = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join planned a cross product:\n$p")
  }

  test("q100: BM25 df/corpus-scalar joins broadcast; top-k bounded") {
    val p = plan(q("q100_bm25_topk"))
    assert(!p.contains("CartesianProduct"), s"BM25 planned a cross product:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"df or corpus-stats join shuffled the term stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
  }

  test("q101: n-gram decontamination is one keyed join, benchmark side broadcast") {
    val df = q("q101_ngram_decontamination")
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram collision join is not keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"benchmark gram set not broadcast:\n$p")
  }

  test("q102: snapshot diff is one keyed full-outer join, map-only compare") {
    val p = plan(q("q102_snapshot_diff"))
    assert("FullOuter".r.findAllIn(p).size == 1, s"expected exactly one full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff join is not keyed:\n$p")
    assert(!p.contains("Window"), s"diff must not use a window:\n$p")
  }

  test("q103/q104: histogram and PSI shuffle only bin-sized state") {
    for (name <- Seq("q103_histogram", "q104_psi_drift")) {
      val p = plan(q(name))
      // every corpus-side aggregation is partial before its exchange, and
      // the only joins are against the bins-sized grid/totals frames
      assert(!p.contains("SortMergeJoin"), s"$name shuffled a corpus-side join:\n$p")
      assert(!p.contains("Window"), s"$name used a window:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$name bin counts not partially aggregated:\n$p")
    }
  }

  test("q111: BPE tokenization is a map-only stage fused into the scan") {
    val p = plan(q("q111_bpe_tokens"))
    // counts + joined tokens are per-row expressions over ONE scan; the
    // only plan nodes beyond scan/project are the output sort
    assert(!p.contains("Exchange hashpartitioning"),
      s"BPE stage shuffled:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"BPE stage is not map-only:\n$p")
    assert(p.contains("bpe_tokens"), s"expression not in plan:\n$p")
  }

  test("q126: pair counting aggregates partially over the compressed vocab") {
    val p = plan(q("q126_bpe_pair_counts"))
    // word counts then pair counts: both aggregations partial before their
    // exchanges, final top-k bounded
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"pair counts not partially aggregated:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
  }

  test("q127: binary ANN broadcasts the query code; corpus never shuffles") {
    val p = plan(q("q127_binary_ann"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
    assert(p.contains("BroadcastExchange"), s"query code not broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus codes shuffled:\n$p")
  }

  test("q128: the curation pipeline has no single-partition stage anywhere") {
    // the budget stage's cumSumByOrder localCheckpoints, which truncates
    // the visible plan at a Scan ExistingRDD leaf — so audit the
    // PRE-checkpoint composition (canonicalize → dedup → score) explicitly,
    // then the post-checkpoint remainder through the full query
    import graft.text.TextStats
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val preBudget = graft.dedup.Dedup.exactKeepFirst(
        docs.select(col("doc_id"), col("text"),
          TextStats.normalizeForDedup(col("text")).as("canon")),
        Seq("canon"), col("doc_id"))
      .select(col("doc_id"),
        TextStats.bpeTokenCount(col("text"),
          Seq("t" -> "h", "th" -> "e")).as("n_bpe"),
        TextStats.qualityScore(col("text")).as("q"))
    val pre = plan(preBudget)
    assert(!pre.contains("SinglePartition"),
      s"single-partition stage before the checkpoint:\n$pre")
    assert(!pre.contains("CartesianProduct") && !pre.contains("Join"),
      s"unexpected join in canon/dedup/score:\n$pre")
    // dedup is ONE keyed aggregate: partial + final around one exchange
    // (min_by over a struct plans as SortAggregate)
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(pre).size >= 2,
      s"dedup not a partial-aggregated keyed aggregate:\n$pre")
    val post = plan(q("q128_llm_pipeline_e2e"))
    assert(!post.contains("SinglePartition"),
      s"single-partition stage after the checkpoint:\n$post")
    assert(!post.contains("CartesianProduct"), s"cross product:\n$post")
  }

  test("q121: chunked scan realizes the requested chunk count, content intact") {
    val p = plan(q("q121_chunked_scan"))
    // the rows-per-chunk contract is ONE round-robin exchange; the chunk
    // counter must ride the same partitioning (no second corpus shuffle
    // besides the count aggregate's)
    assert(p.contains("RoundRobinPartitioning"), s"no round-robin chunking:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"chunk counter used a heavyweight plan:\n$p")
  }

  test("q131: CMS estimate broadcasts the bounded sketch; probes never shuffle for the lookup") {
    val p = plan(q("q131_cms_heavy_hitters"))
    assert(p.contains("BroadcastHashJoin"), s"sketch lookup not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product in CMS path:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("q134: the 1-row consistency bound broadcasts; assignment adds no extra shuffle") {
    val p = plan(q("q134_leakage_safe_split"))
    // the crossJoin carries a broadcast 1-row frame, never a cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), s"bound not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product:\n$p")
  }

  test("q136: containment candidates come from a keyed join, never all-pairs") {
    val p = plan(q("q136_containment_pairs"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment went all-pairs:\n$p")
  }

  test("q140: incremental near-dup probes history by keyed joins only") {
    val p = plan(q("q140_incremental_near_dup"))
    // band probe, verify lookup and survivor anti-join are all keyed —
    // a cross product here would re-scan history per batch row
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental near-dup went all-pairs:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("q143: substring removal is keyed shuffles only, no corpus window") {
    val p = plan(q("q143_remove_duplicate_spans"))
    // gram agg + first-occurrence join + per-doc regroup — a cross product
    // or a corpus-wide window sort here would not survive 100 TB
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"substring removal went all-pairs:\n$p")
    assert(!p.contains("Window"), s"corpus-wide window:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("q137: PQ ADC broadcasts the 1-row query and bounds the top-k") {
    val p = plan(q("q137_pq_ann"))
    assert(p.contains("BroadcastNestedLoopJoin"), s"query row not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"ADC top-k not bounded:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
  }

  test("q144: two-stage PQ retrieval bounds both stages, no cross product") {
    val p = plan(q("q144_pq_two_stage"))
    // stage 1's candidate heap and stage 2's re-ranked top-10 must both be
    // bounded (TakeOrderedAndProject), and the only nested-loop joins are
    // the broadcast 1-row query / 50-row candidate frames
    assert(p.contains("TakeOrderedAndProject"), s"unbounded top-k:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
  }

  test("q149: bucketed join and aggregation plan with zero hash exchange") {
    // At fixture scale AQE rightly broadcasts the tiny customer side, which
    // hides the property under test; at 100 TB NEITHER side broadcasts, so
    // pin the structural claim with broadcast disabled: the join must
    // degrade to a bucket-zipped sort-merge join with NO exchange, not to
    // a shuffled one.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // staging happens inside the query fn; the returned frame is the
      // join + per-customer agg over the two bucketed tables
      val p = plan(q("q149_bucketed_join"))
      // the ONLY exchange allowed is the final orderBy's range
      // partitioning: the join reads co-located buckets and the agg
      // reuses the join's clustering — a hash exchange anywhere means
      // bucketing was lost (e.g. a path write that dropped the bucket
      // spec from the catalog)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join/agg still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected bucket-zipped SMJ:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
      // bucket pruning: an equality filter on the bucket column must touch
      // ONE bucket's files, not all 8 — the point-lookup face of the same
      // layout (1/n of a 100 TB table scanned instead of all of it).
      // autoBucketedScan's heuristic turns the bucketed read OFF for a
      // bare filter (no exchange to elide), which also forfeits pruning —
      // disable it so the scan stays bucketed, as a deployment doing
      // point lookups on a bucketed fact table would
      // unset in a finally: a throw between set and unset would leak the
      // disabled conf into every later test in the shared-session suite
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val lookup =
        try plan(spark.table("q149_orders").filter(col("o_custkey") === 42L))
        finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      assert(lookup.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket filter not pruned:\n$lookup")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("q155: ADC reads the cell-partitioned index — codes only, probed cells only") {
    val p = plan(q("q155_ivf_pq_ann"))
    // the probe set must reach the index scan as PARTITION filters
    // (directory pruning: 2 of 4 cell dirs read — at 100 TB, nProbe/
    // nCentroids of the index files), not as a post-scan filter
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"probe cells not pruning partitions:\n$p")
    // the index scan reads (vec_id, pq_code) — the float embedding column
    // appears only in the candidate-bounded re-rank scan of embeddings
    val idxSchemas = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("pq_code")).toSeq
    assert(idxSchemas.nonEmpty, s"no index scan found:\n$p")
    assert(idxSchemas.forall(!_.contains("embedding")),
      s"index scan reads float vectors:\n${idxSchemas.mkString("\n")}")
    // both the ADC top-30 and the re-ranked top-10 are bounded heaps
    assert(p.contains("TakeOrderedAndProject"), s"unbounded top-k:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
  }

  test("q145: Gopher rules are one map-only pass fused into the scan") {
    val p = plan(q("q145_gopher_rules"))
    // every rule is a scalar expression over (text) — nothing may shuffle
    // except the final presentation sort
    assert(!p.contains("Exchange hashpartitioning"), s"rule pass shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"unexpected join in a per-row screen:\n$p")
  }

  test("q146: image mint + decode + hash never shuffles payload bytes") {
    val p = plan(q("q146_image_ahash"))
    // payloads are minted and hashed executor-side; only (id, ahash) rows
    // may move — a hash exchange would mean image bytes ride the wire
    assert(!p.contains("Exchange hashpartitioning"), s"payload shuffle:\n$p")
  }

  test("q151: line segmentation shuffles (doc,lang) aggregates, never lines") {
    val p = plan(q("q151_mixed_language"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing went all-pairs:\n$p")
    // both aggregation levels are partial below their exchange
    assert("partial_count|partial_sum|partial_min".r.findAllIn(p).nonEmpty,
      s"no map-side partials:\n$p")
    assert(!p.contains("Window"), s"corpus-wide window crept in:\n$p")
  }

  test("kmvSketch: bounded buffers aggregate partially before the shuffle") {
    val df = spark.range(0, 2000)
      .select((col("id") % 7).cast("string").as("g"),
        concat(lit("k"), col("id")).as("k"))
    val p = graft.ops.Sketches.kmvSketch(df, col("g"), col("k"), k = 16)
      .queryExecution.executedPlan.toString
    // typed Aggregator → ObjectHashAggregate, partial (map-side min-k)
    // below the grp exchange, final above — the shuffle carries ≤ k longs
    // per (partition, group), never the key stream
    assert(p.contains("ObjectHashAggregate"), s"no object aggregate:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"KMV aggregation is not two-phase:\n$p")
    assert(p.contains("Exchange hashpartitioning(grp"),
      s"no keyed exchange on grp:\n$p")
  }

  test("q165: markup extraction is map-only — no exchange, whole-stage codegen") {
    val p = plan(q("q165_markup_extract"))
    // the regex chain is built-in expressions fused into the scan; the only
    // allowed movement is the orderBy's range exchange for the output sort
    assert(!p.contains("Exchange hashpartitioning"), s"extraction shuffled:\n$p")
    // codegen span check on the sort-free shape (the scrubPii idiom: AQE
    // hides "*(n)" markers behind isFinalPlan=false when an exchange exists)
    val bare = plan(spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), graft.text.Markup.extractText(col("text")).as("t")))
    assert(!bare.contains("Exchange"), s"map-only transform shuffles:\n$bare")
    assert(bare.contains("*(1) Project"), s"fell out of codegen:\n$bare")
  }

  test("q163: DSIR ratio table broadcasts; scoring never sort-merges") {
    val p = plan(q("q163_dsir_scores"))
    // the ≤ B-row log-ratio frame must broadcast to the exploded gram
    // stream — a sort-merge there would shuffle the whole corpus's grams
    // against a KB-sized table
    assert(p.contains("BroadcastHashJoin"), s"ratio join not broadcast:\n$p")
    // per-doc score sums are partial below their exchange
    assert("partial_sum".r.findAllIn(p).nonEmpty, s"no map-side partials:\n$p")
  }

  test("q164: Gumbel resample is a bounded top-k, not a global sort") {
    val p = plan(q("q164_dsir_resample"))
    assert(p.contains("TakeOrderedAndProject"), s"resample not bounded:\n$p")
  }

  test("q168: rank and group count ride one window shuffle — no count join") {
    val p = plan(q("q168_top_fraction_per_source"))
    // a naive implementation joins a per-group count aggregate back in —
    // that's a second exchange and a join; ours puts count(*) on the same
    // window partition as row_number
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1,
      s"expected exactly one keyed exchange:\n$p")
    assert(!p.contains("Join"), s"group-count join crept in:\n$p")
  }

  test("q170: diversity sample is map-assign + ONE cell-keyed shuffle") {
    val p = plan(q("q170_diversity_sample"))
    // cell assignment must stay fused in the scan stage; the only exchange
    // is the per-cell window's hash partitioning on the cell key — a
    // second exchange would mean the assignment itself shuffled
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(p).size == 1,
      s"expected exactly one cell-keyed exchange:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q176: negative draws join a BROADCAST representative table") {
    val p = plan(q("q176_negative_samples"))
    // the buckets-sized head/runner-up table must broadcast — a hash join
    // would shuffle every anchor draw on the bucket key
    assert(p.contains("BroadcastHashJoin"), s"rep table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"anchor side shuffled for the join:\n$p")
  }

  test("q185: hard negatives broadcast the probe set — never a cartesian") {
    val p = plan(q("q185_hard_negatives"))
    assert(p.contains("BroadcastNestedLoopJoin"), s"probe set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
  }

  test("q183: session derive AND transcript agg ride ONE user_id shuffle") {
    val p = plan(q("q183_session_transcripts"))
    // the windows hash-partition on user_id; the (user_id, __sid) groupBy's
    // clustering requirement is satisfied by that same partitioning (subset
    // rule), so a second keyed exchange means the reuse broke
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange:\n$p")
  }

  test("q171: mojibake repair is map-only — no exchange before the sort") {
    val p = plan(q("q171_mojibake_repair"))
    // the whole corrupt→repair chain is scan-fused string rewriting; the
    // only allowed exchange is the final orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"repair chain shuffles:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q194: time travel joins two version scans — the old version is a plain read") {
    val p = plan(q("q194_version_time_travel"))
    // both sides are direct parquet scans of immutable version dirs (no
    // log replay, no union of deltas — versioning cost is all at write
    // time) and the v0-vs-latest comparison is ONE key-equi join
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"expected exactly two version scans:\n$p")
    assert(!p.contains("Union"), s"version read must not assemble deltas:\n$p")
  }

  test("q196: mixture e2e — reference broadcasts, no extra exchanges") {
    val p = plan(q("q196_curation_mixture_e2e"))
    // the calibration reference is a 1-row aggregate that must BROADCAST
    // into the map-side lookup; a sort-merge there would shuffle the whole
    // pool against a 1-row frame
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"reference not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pool shuffled against the 1-row reference:\n$p")
    // the upsample stage is map-only (explode of a per-row copy count) —
    // it must not introduce an exchange after the gate's window
    assert(p.contains("Generate explode"), s"upsample explode missing:\n$p")
  }

  test("q198: URL canonicalization is one map stage fused into a pruned scan") {
    val p = plan(q("q198_url_canonicalize"))
    assert(!p.contains("Join"), s"canonicalization must not join:\n$p")
    // only the output orderBy may shuffle
    assert("Exchange".r.findAllIn(p).size == 1, s"map stage shuffled:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"URL stage reads the document text it never uses:\n$readSchema")
  }

  test("q199: blocklist sides broadcast; the corpus never sort-merges") {
    val p = plan(q("q199_domain_blocklist"))
    assert(p.contains("BroadcastHashJoin"), s"blocklist not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled against a 2-row blocklist:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"gate reads the document text it never uses:\n$readSchema")
  }

  test("q200: margin penalties broadcast onto the candidate list") {
    val p = plan(q("q200_margin_pair_mining"))
    // probe sets broadcast into the scoring cross joins, and both
    // O(|side|) penalty frames broadcast back onto queries×k candidates —
    // nothing corpus-sized ever sort-merges
    assert(p.contains("BroadcastNestedLoopJoin"), s"probes not broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"penalty frames not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized shuffle join:\n$p")
  }

  test("q201: k-anonymity aggregates partially over a pruned customer scan") {
    val p = plan(q("q201_k_anonymity"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("c_name"),
      s"audit reads customer columns it never uses:\n$readSchema")
  }

  test("maxSimTopK: query bags broadcast; every shuffle keyed on (query, doc)") {
    // X67's scale contract: the corpus-token side is scanned once and
    // reaches the per-(query, doc, qtok) aggregation through a BROADCAST
    // of the query bags — the only hash exchanges carry candidate-sized
    // (query, doc[, qtok]) state, never corpus-width rows
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val docToks = emb.select(expr("vec_id DIV 5").as("doc_id"), col("embedding"))
    val qToks = emb.filter(col("vec_id") < 5)
      .select(lit(0L).as("q_id"), col("vec_id").as("tok"), col("embedding"))
    val p = plan(graft.sim.Similarity.maxSimTopK(docToks, "doc_id",
      "embedding", qToks, "q_id", "tok", "embedding", k = 5))
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    val keyed = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // a literal query id constant-folds out of the key name, so accept any
    // exchange carrying the candidate keys; none may be plain corpus keys
    assert(keyed.nonEmpty && keyed.forall(l =>
      l.contains("__query_id") || l.contains("neighbor_id")),
      s"corpus-width shuffle crept in:\n${keyed.mkString("\n")}\n$p")
    assert("partial_max".r.findAllIn(p).nonEmpty,
      s"per-token maxima not map-side combined:\n$p")
  }

  test("randomProject: map-only, literal matrix rows fused into codegen") {
    // X70: the projection is outDim literal DotProducts — no shuffle, no
    // UDF, whole-stage codegen'd straight off the scan
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(emb.select(col("vec_id"),
      graft.sim.Similarity.randomProject(col("embedding"), 64, 8, "pp")
        .as("proj")))
    assert(!p.contains("Exchange"), s"projection shuffles:\n$p")
    assert(p.contains("*(1) Project"), s"fell out of codegen:\n$p")
    assert(p.contains("dot_product"), s"native DotProduct not in plan:\n$p")
  }

  test("zone-map prunedRead: residual range lands in the survivor scan's pushed filters") {
    // X69: kept files are read by ONE ordinary parquet scan with the range
    // re-applied — parquet's own row-group stats then prune WITHIN
    // survivors, which only works if the predicate is PUSHED
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-zm").resolve("t").toString
    val man = java.nio.file.Files.createTempDirectory("plan-zm-man").resolve("m").toString
    graft.ops.ZoneMaps.writeRangeSharded(
      (0L until 100L).map(v => (v, s"r$v")).toDF("v", "tag"),
      dir, Seq("v"), rowsPerFile = 10)
    graft.ops.ZoneMaps.build(spark, dir, man, Seq("v"))
    val (df, stats) = graft.ops.ZoneMaps.prunedRead(spark, dir, man,
      Seq(graft.ops.ZoneMaps.Range("v", 23L, 41L)))
    assert(stats.filesKept == 3)
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(v,23)") &&
      p.contains("LessThanOrEqual(v,41)"),
      s"residual range not pushed into the scan:\n$p")
  }

  test("rrfFuse: exactly one keyed shuffle on the id; fused top-k bounded") {
    // X68: inputs are top-k frames — the fusion is one union + one keyed
    // aggregation + a bounded heap cut, nothing more. Inputs come off
    // spark.range with maxRows > topK: a tiny LocalRelation lets
    // EliminateLimits fold the bounded cut away and hide the shape
    val a = spark.range(1, 31)
      .select(col("id").as("doc_id"), col("id").cast("int").as("rank"))
    val b = spark.range(5, 35)
      .select(col("id").as("doc_id"), (col("id") - 4).cast("int").as("rank"))
    val p = plan(graft.text.Retrieval.rrfFuse(Seq(a, b), "doc_id"))
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1,
      s"expected exactly one id-keyed exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"fused top-k not bounded:\n$p")
  }

  test("qualityClassifier.score: weights broadcast; nothing funnels to one task") {
    // X66's gate face — the thing that scores 100 TB: map-only features,
    // the ≤ buckets-row weight table broadcast, one doc-keyed sum
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.text.QualityClassifier.score(docs, "doc_id", "text",
      Map(1L -> 100L, 2L -> -50L), buckets = 64))
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"feature stream shuffled against a 2-row weight table:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("q215: the serving chain never sort-merges or cross-products") {
    // the composed ANN → MaxSim → RRF + BM25 stack: everything joins by
    // broadcast (query bags, dfreq, corpus scalars, weight-class frames)
    // or keyed exchange — a sort-merge or cartesian anywhere means one of
    // the stages lost its scale shape
    val p = plan(q("q215_serving_rerank_fusion"))
    assert(!p.contains("SortMergeJoin"), s"serving chain sort-merged:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
  }

  test("q219: funnel chains advance through keyed joins — no cross product, no window") {
    val p = plan(q("q219_funnel"))
    // each step is a user-keyed join + (user, start)-keyed min; the only
    // broadcast NLJ is the 1-row base-count frame in the report arithmetic
    assert(!p.contains("CartesianProduct"), s"funnel planned a cartesian:\n$p")
    assert(!p.contains("Window"), s"funnel used a window function:\n$p")
    assert(!p.contains("SinglePartition") || p.contains("TakeOrderedAndProject"),
      s"funnel funnelled to one task:\n$p")
  }

  test("q222: cohort retention has no window functions and prunes the scan") {
    val p = plan(q("q222_cohort_retention"))
    // two user-keyed aggregations + keyed joins — a Window here would
    // mean a per-user sort crept in
    assert(!p.contains("Window"), s"retention used a window function:\n$p")
    assert(!p.contains("CartesianProduct"), s"retention cross-product:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("user_id") && !readSchema.contains("event_type"),
      s"events scan not pruned to (user_id, ts):\n$readSchema")
  }

  test("q228: the whole CUSUM trajectory rides one keyed shuffle and sort") {
    val p = plan(q("q228_cusum_drift"))
    // The prefix-min window CONSUMES the running-sum window's output, so
    // Spark keeps them as two Window operators — but they share the same
    // (key, ordering), so the closed form costs ONE hash exchange past the
    // daily-count aggregation (two total); a second Sort between the
    // Windows would mean the shape broke
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected the agg exchange + one detector exchange:\n$p")
    val windows = p.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("Window [") => i }.toSeq
    assert(windows.size == 2, s"expected the two trajectory windows:\n$p")
    val between = p.linesIterator.slice(windows.min + 1, windows.max).toSeq
    assert(!between.exists(l => l.contains("Sort") || l.contains("Exchange")),
      s"windows did not share their sort:\n${between.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"detector plan grew a join:\n$p")
  }

  test("q229: wedge and closure joins are equi-joins — never nested loops") {
    val p = plan(q("q229_triangle_count"))
    // the degree orientation exists so the closing edge is an equi-join
    // key; an OR-condition closure would surface as a nested loop here
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle closure fell off the equi-join path:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_quantity"),
      s"lineitem scan not pruned to (l_orderkey, l_partkey):\n$readSchema")
  }

  test("q230: attribution is one keyed join + one window — no cross product") {
    val p = plan(q("q230_attribution"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"attribution fell off the equi-join path:\n$p")
    // position (ordered) and count (unordered frame) are two Window
    // operators, but they ride the SAME (user, conv_ts) partitioning —
    // no Sort or Exchange may appear between them
    val windows = p.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("Window [") => i }.toSeq
    assert(windows.size == 2, s"expected the two attribution windows:\n$p")
    val between = p.linesIterator.slice(windows.min + 1, windows.max).toSeq
    assert(!between.exists(l => l.contains("Sort") || l.contains("Exchange")),
      s"attribution windows did not share their shuffle:\n${between.mkString("\n")}")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("value"),
      s"events scan not pruned to (user_id, ts, event_type):\n$readSchema")
  }

  test("q236: flow transitions ride one user shuffle; matrix agg is keyed") {
    val p = plan(q("q236_event_flow_markov"))
    assert(!p.contains("CartesianProduct"), s"flow grew a cross product:\n$p")
    // exactly two windows: the corpus-width lag on the user key, and the
    // row-total normalization over the already-aggregated S²-row matrix
    assert("Window".r.findAllIn(p).size == 2,
      s"expected the lag window + the matrix row-total window:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("value"),
      s"events scan not pruned:\n$readSchema")
  }

  test("q237: skew profile is one count agg + a bounded top-k") {
    val p = plan(q("q237_skew_profile"))
    assert(p.contains("TakeOrdered"),
      s"top-K must be a bounded TakeOrdered, not a global sort:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey") && !readSchema.contains("l_quantity"),
      s"lineitem scan not pruned to l_partkey:\n$readSchema")
  }

  test("q238: bloom probe joins the BROADCAST sketch — probes never shuffle for the lookup") {
    val p = plan(q("q238_bloom_filter"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"sketch side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"bloom grew a cross product:\n$p")
  }

  test("q239/q246: spatial joins are cell equi-joins — never nested loops") {
    for (name <- Seq("q239_proximity_join", "q246_point_in_polygon")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off the equi-join path:\n$p")
    }
  }

  test("q243: all quantiles ride one keyed window and one aggregation") {
    val p = plan(q("q243_exact_percentiles"))
    assert("Window".r.findAllIn(p).size <= 2,
      s"expected the shared rank/count window stack:\n$p")
    assert(!p.contains("Join"), s"percentiles must not self-join:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_quantity"),
      s"lineitem scan not pruned:\n$readSchema")
  }

  test("q244: pseudonymization is map-only up to the output sort") {
    val p = plan(q("q244_pii_pseudonyms"))
    val body = p.linesIterator.filterNot(_.contains("rangepartitioning")).mkString("\n")
    assert(!body.contains("Exchange hashpartitioning"),
      s"pseudonymization shuffled:\n$p")
    assert(!p.contains("Join"), s"pseudonymization joined:\n$p")
  }

  test("q245: dictionary encode/decode joins all broadcast; no sort-merge") {
    val p = plan(q("q245_dictionary_encoding"))
    assert(p.contains("BroadcastHashJoin"), s"dict joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a dict join fell back to shuffle:\n$p")
  }

  test("q247: chi-square margins join the cells-sized frame; scan pruned") {
    val p = plan(q("q247_chi_square"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"contingency margins fell off the broadcast path:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderpriority") &&
      !readSchema.contains("o_totalprice"),
      s"orders scan not pruned to the two axes:\n$readSchema")
  }

  test("q248: basket pairs come from one keyed self-join — no cross product") {
    val p = plan(q("q248_association_rules"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair mining fell off the equi-join path:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax"),
      s"lineitem scan not pruned:\n$readSchema")
  }

  test("q251: the geofence chain stays a cell equi-join end to end") {
    val p = plan(q("q251_shapefile_geofence"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ring containment fell off the equi-join path:\n$p")
    // the join keys are the grid cells; the exact parity test rides as a
    // residual condition on the cell equi-join, never as the join itself
    // (wkb_rings itself constant-folds into the LocalTableScan here — the
    // fixture polys are driver-local; SpatialSpec pins the decode values)
    assert(p.contains("BroadcastHashJoin [__cx") ||
      p.contains("SortMergeJoin [__cx") ||
      p.contains("ShuffledHashJoin [__cx"),
      s"containment not keyed on grid cells:\n$p")
  }

  test("q252: sketch ROWS, not keys, cross the projection shuffle") {
    val p = plan(q("q252_rolling_active_sketch"))
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      s"sketch aggregates missing:\n$p")
    // the W-day explode must feed on the day-keyed sketch aggregate — its
    // Generate carries the sketch column, so the second shuffle moves
    // days × W few-KB sketch rows, never the (key, day) frame
    assert(p.linesIterator.exists(l =>
        l.contains("Generate") && l.contains("__sk")),
      s"the sketch face's explode does not ride the aggregated frame:\n$p")
  }

  test("q257: trend sums ride two aggregations, no join, pruned scan") {
    val p = plan(q("q257_trend_slopes"))
    assert(!p.contains("Join"), s"the closed form must not join:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_type") && !readSchema.contains("value"),
      s"events scan not pruned:\n$readSchema")
  }

  test("q259: both leads share ONE user-keyed window; top-k is bounded") {
    val p = plan(q("q259_path_ngrams"))
    assert("Window".r.findAllIn(p).size == 1,
      s"the lead chain split into multiple windows:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$p")
  }

  test("q258/q260/q262: keyed plans only — no cartesian anywhere") {
    for (name <- Seq("q258_mad_outliers", "q260_golden_records",
        "q262_bfs_levels")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off the keyed path:\n$p")
    }
  }

  test("q264/q265/q266/q267: keyed plans only; no cartesian, no nested loop") {
    for (name <- Seq("q264_segment_overlap", "q266_seasonal_backtest",
        "q267_cuped")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off the keyed path:\n$p")
    }
    // q265's one nested-loop join is the DELIBERATE 9-row digit scaffold
    // (groups × 9 — every digit emits even at zero observations); the
    // count join itself must stay keyed
    val p = plan(q("q265_benford_audit"))
    assert(!p.contains("CartesianProduct"),
      s"q265 grew an unplanned cross product:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"q265 has more than the one scaffold cross:\n$p")
  }

  test("q263: MI margins join the cells-sized frame; scan pruned") {
    val p = plan(q("q263_mi_association"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"margins fell off the broadcast path:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderpriority") &&
      !readSchema.contains("o_totalprice"),
      s"orders scan not pruned to the two axes:\n$readSchema")
  }

  test("q271/q272/q273: rank statistics are windows + aggregations, no joins beyond the fixture") {
    for (name <- Seq("q271_auc_report", "q272_gini_concentration",
        "q273_spearman_trend")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off the keyed path:\n$p")
    }
    // AUC's window sorts SCORE CARDINALITY, not rows: the tie-collapse
    // aggregation must sit below the window
    val p = plan(q("q271_auc_report"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"tie collapse not aggregated before the rank window:\n$p")
  }

  test("q202: DP noise is computed on the groups-sized frame") {
    val p = plan(q("q202_dp_noisy_counts"))
    assert(!p.contains("Join"), s"noise must not join row-sized frames:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("source") && !readSchema.contains("text"),
      s"release scan not pruned to the group column:\n$readSchema")
  }

  test("bloom-skip prunedRead: residual pushed into the kept-file scan (X119)") {
    // the file-level manifest prunes FILES; the residual equality must
    // reach the parquet scan so row-group stats prune WITHIN survivors —
    // the two skipping layers compose only if the predicate is pushed
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-bs").toString
    val man = java.nio.file.Files.createTempDirectory("plan-bs-man").toString
    Seq.tabulate(40)(i => (i.toLong, i.toLong / 10, s"row$i"))
      .toDF("k", "__shard", "payload").repartition(1)
      .write.partitionBy("__shard").mode("overwrite").parquet(dir)
    graft.ops.BloomSkip.build(spark, dir, man, "k", bits = 4096,
      hashes = 5, seed = "plan-x119")
    val (df, stats) = graft.ops.BloomSkip.prunedRead(spark, dir, man, Seq(7L))
    val p = plan(df)
    assert(p.contains("EqualTo(k,7)"),
      s"residual equality not pushed into the scan:\n$p")
    // and the scan lists ONLY the kept files — file skipping is physical
    assert(df.inputFiles.length == stats.filesKept,
      s"scan reads ${df.inputFiles.length} files, kept ${stats.filesKept}")
  }

  test("q289: one pair join; the FS scoring itself is map-only literals") {
    // X128: weights compile into the projection — beyond the fixture's
    // blocked pair join there is no join, no cartesian, and the score
    // aggregation partial-combines
    val p = plan(q("q289_fellegi_sunter"))
    assert(!p.contains("CartesianProduct"), s"cartesian in FS plan:\n$p")
    assert("Join".r.findAllIn(p).size <= 2, // one pair join (+ AQE echo)
      s"scoring added joins beyond the pair join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"score histogram not partially aggregated:\n$p")
  }

  test("q286: path reconstruction stays keyed-join-only — no cartesian") {
    val p = plan(q("q286_sssp_paths"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"parent post-pass must be keyed joins:\n$p")
  }

  test("q298/q299: loop results read from truncated checkpoints — the " +
      "rounds are not replayed downstream (X136/X137)") {
    // both operators iterate with per-round lineage truncation; the
    // final frame must scan the materialized checkpoint (node-sized),
    // not re-derive the loop — a plan that re-runs rounds per consumer
    // is the scale bug Checkpointing exists to prevent
    Seq("q298_label_propagation", "q299_walk_paths").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: final frame must read the checkpoint, not the loop:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$n: no cartesian anywhere:\n$p")
    }
  }

  test("q300/q302/q303: driver-fold outputs are bounded local tables " +
      "(X138/X140/X141)") {
    // the corpus work happens in the probed, bounded collects; the
    // returned frame itself must be a LocalTableScan — any Exchange here
    // would mean the fold leaked distributed work past its budget
    Seq("q300_log_rank_omnibus", "q302_nelson_aalen", "q303_croston")
      .foreach { n =>
        val p = plan(q(n))
        assert(p.contains("LocalTableScan"),
          s"$n: fold output should be a bounded local table:\n$p")
      }
  }

  test("q304: friedman is per-block windows + keyed aggregations on a " +
      "pruned scan — no cartesian (X142)") {
    val p = plan(q("q304_friedman"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"blocked ranks must stay keyed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(!readSchema.contains("o_orderdate") &&
      !readSchema.contains("o_orderstatus"),
      s"scan reads pruned columns:\n$readSchema")
    // the midrank windows are partitioned per (family, block) — a
    // window with NO partition key would funnel the corpus through one
    // task (the WindowExec warning class)
    assert(!p.contains("windowspecdefinition(ROWS") &&
      !p.contains("windowspecdefinition(RANGE"),
      s"unpartitioned window in the rank plan:\n$p")
  }

  test("q305: JW match is a keyed variant join + map-only verify — " +
      "codegen'd comparator, no cartesian (X143)") {
    val p = plan(q("q305_jaro_winkler_match"))
    // blocking must stay the keyed FastSS variant join; the brute-force
    // cross product lives only in the ORACLE
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"JW join must be variant-keyed, never all-pairs:\n$p")
    // the comparator is the codegen'd expression, not a UDF stage
    assert(p.contains("jaro_winkler_micro"), s"comparator not in plan:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"comparator must not be a UDF:\n$p")
  }

  test("q306/q309: graph-loop results read truncated checkpoints; " +
      "keyed joins only (X144/X147)") {
    Seq("q306_negative_cycles", "q309_personalized_pagerank").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: final frame must read the checkpoint, not replay rounds:\n$p")
      // the one allowed cartesian is PPR's broadcast of the 1-ROW
      // dangling scalar (BroadcastNestedLoopJoin over a single row is a
      // broadcast variable, not a join explosion); anything larger fails
      assert(!p.contains("CartesianProduct"),
        s"$n: no cartesian anywhere:\n$p")
    }
  }

  test("q308: signed-rank plan collapses pairs to cells before windows; " +
      "per-family windows, pruned scan (X146)") {
    val p = plan(q("q308_wilcoxon_signed_rank"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"rank plan must stay keyed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(!readSchema.contains("o_orderstatus") &&
      !readSchema.contains("o_comment"),
      s"scan reads pruned columns:\n$readSchema")
    assert(!p.contains("windowspecdefinition(ROWS") &&
      !p.contains("windowspecdefinition(RANGE"),
      s"unpartitioned window in the rank plan:\n$p")
  }

  test("q307: both band faces are driver-fold bounded local tables (X145)") {
    val p = plan(q("q307_survival_log_bands"))
    assert(p.contains("LocalTableScan"),
      s"band output should be bounded local tables:\n$p")
  }

  test("q311/q315: blocked-binary and contingency tests read their " +
      "checkpoint; the internal shape is keyed aggregations only " +
      "(X149/X153)") {
    Seq("q311_cochran_q", "q315_independence_test").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: result should read the eager checkpoint:\n$p")
    }
    // internal shape, pinned on the operator's own building blocks:
    // cells collapse + margin aggregations — keyed joins, no windows
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
    val cells = orders.groupBy("a", "b").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("a").agg(sum(col("o")).as("r"))
    val p2 = plan(cells.join(rt, Seq("a")).groupBy(lit(1))
      .agg(sum(col("o") * col("r"))))
    assert(!p2.contains("CartesianProduct") && !p2.contains("Window"),
      s"contingency shape must stay keyed aggregations:\n$p2")
  }

  test("q312/q316: pair statistics run on the CELLS collapse, not raw " +
      "rows — q312 is the bounded driver fold, q316 the cells join " +
      "(X150/X154)") {
    // q312 (kendallTau): since r18 the pair counts come from the
    // bounded driver Fenwick fold over the probe-bounded cells — the
    // result is a LOCAL relation (no self-join, no checkpoint, no
    // shuffle downstream of the one cells collapse)
    val p312 = plan(q("q312_kendall_tau"))
    assert(p312.contains("LocalTableScan"),
      s"q312: result should be the bounded driver fold's local " +
        s"relation:\n$p312")
    assert(!p312.contains("SortMergeJoin") &&
      !p312.contains("BroadcastHashJoin") &&
      !p312.contains("InMemoryTableScan"),
      s"q312: the cells-squared pair join must stay gone:\n$p312")
    // q316 keeps the checkpointed cells-join shape
    val p316 = plan(q("q316_jonckheere_terpstra"))
    assert(p316.contains("Scan ExistingRDD"),
      s"q316: result should read the checkpoint:\n$p316")
    // q316's internal shape, pinned on a representative frame: the
    // pair join's both legs read the persisted CELLS
    // (InMemoryTableScan), never the raw scan, and the join is
    // family-keyed
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("fam"),
        col("l_quantity").cast("long").as("x"),
        (col("l_extendedprice") / 1000).cast("long").as("y"))
    val cells = li.groupBy("fam", "x", "y").agg(count(lit(1)).as("c"))
      .persist()
    try {
      val l = cells.select(col("fam"), col("x").as("x1"),
        col("y").as("y1"), col("c").as("c1"))
      val r = cells.select(col("fam"), col("x").as("x2"),
        col("y").as("y2"), col("c").as("c2"))
      val p2 = plan(l.join(r, Seq("fam")).filter(col("x1") < col("x2"))
        .groupBy("fam").agg(count(lit(1))))
      assert(p2.contains("InMemoryTableScan"),
        s"cells must be cached on both pair-join legs:\n$p2")
      assert(!p2.contains("CartesianProduct") &&
        !p2.contains("NestedLoop"),
        s"the ordered pair join must stay keyed on family:\n$p2")
    } finally cells.unpersist()
  }

  test("q313: one window sort per family emits every lag — no per-lag " +
      "re-sort, no self-join on the series (X151)") {
    val p = plan(q("q313_acf_ljung_box"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    // internal shape: the lead battery is ONE Window operator carrying
    // all maxLag lead columns over the same (g, p) sort — pinned on the
    // operator's own construction
    val b = spark.range(50).select(lit("g").as("g"), col("id").as("p"),
      (col("id") % 7).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("p")
    val battery = b.withColumn("ls",
      array((1 to 6).map(k => lead(col("y"), k).over(w)): _*))
    val p2 = plan(battery)
    assert("Window".r.findAllIn(p2).size == 1,
      s"all lags must ride ONE window operator (one sort):\n$p2")
  }

  test("q314: HITS reads truncated checkpoints; the only broadcast " +
      "nested loop is the 1-row L1 total (X152)") {
    val p = plan(q("q314_hits"))
    assert(p.contains("Scan ExistingRDD"),
      s"final frame must read the checkpoint, not replay rounds:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in the HITS read plan:\n$p")
  }

  test("q319/q324: agreement statistics read their checkpoint; the " +
      "expected-sum join is margins-sized, never corpus-sized " +
      "(X157/X162)") {
    Seq("q319_judge_agreement_kappa", "q324_fleiss_kappa").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: result should read the eager checkpoint:\n$p")
    }
    // internal shape: the kappa expected sum crosses MARGIN frames
    // within family — both legs must read the cached cells, and the
    // join stays family-keyed (no cartesian over raw rows)
    val li = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderpriority").as("a"),
        col("o_orderstatus").as("b")).withColumn("fam", lit("f"))
    val cells = li.groupBy("fam", "a", "b").agg(count(lit(1)).as("o"))
      .persist()
    try {
      val rt = cells.groupBy("fam", "a").agg(sum(col("o")).as("r"))
      val ct = cells.groupBy("fam", "b").agg(sum(col("o")).as("c"))
      val p2 = plan(rt.join(ct, Seq("fam")).groupBy("fam")
        .agg(sum(col("r") * col("c"))))
      assert(p2.contains("InMemoryTableScan"),
        s"both margin legs must read the cached cells:\n$p2")
      assert(!p2.contains("CartesianProduct") &&
        !p2.contains("NestedLoop"),
        s"the margins join must stay family-keyed:\n$p2")
    } finally cells.unpersist()
  }

  test("q320/q326: ranking-eval plans collapse to score cells before " +
      "the window; the depth join broadcasts k rows (X158/X164)") {
    Seq("q320_average_precision", "q326_gains_lift").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: result should read the eager checkpoint:\n$p")
    }
    // internal shape: the cumulative window partitions by family (never
    // unpartitioned), and cells-sized frames feed it
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source").as("fam"), col("n_chars").as("s"),
        (col("doc_id") % 2).as("y"))
    val cells = docs.groupBy("fam", "s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("tp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fam").orderBy(col("s").desc)
      .rowsBetween(Long.MinValue, 0)
    val p2 = plan(cells.withColumn("ctp", sum(col("tp")).over(w)))
    assert(!p2.contains("windowspecdefinition(s DESC"),
      s"window must partition by family, not sort globally:\n$p2")
    assert("Window".r.findAllIn(p2).size == 1,
      s"one cumulative window over cells:\n$p2")
  }

  test("q321: modularity reads its checkpoint; assignment joins stay " +
      "keyed with no cartesian (X159)") {
    val p = plan(q("q321_modularity"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
  }

  test("q322: pettitt is two keyed windows on the collapsed series — " +
      "no pair join, no cartesian (X160)") {
    val p = plan(q("q322_pettitt_changepoint"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    // internal shape: the doubled-midrank + cumsum battery is windows
    // partitioned by family — pinned on the operator's construction
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(concat(lit("f"), pmod(col("o_custkey"), lit(2))).as("fam"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .as("x"))
      .agg(count(lit(1)).as("y"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("fam").orderBy("y")
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy("fam").orderBy("x")
    val u = daily
      .withColumn("lt", count(lit(1)).over(wv.rangeBetween(Long.MinValue, -1)))
      .withColumn("u", sum(col("lt")).over(wt.rowsBetween(Long.MinValue, 0)))
    val p2 = plan(u)
    assert(!p2.contains("CartesianProduct") && !p2.contains("NestedLoop"),
      s"pettitt must never build the pair frame:\n$p2")
  }

  test("q323/q325: monitoring folds emit bounded local tables " +
      "(X161/X163)") {
    Seq("q323_ewma_chart", "q325_theta_backtest").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("LocalTableScan"),
        s"$n: driver-fold output should be a bounded local table:\n$p")
    }
  }

  test("q327: the calibration report is keyed aggregations + one " +
      "broadcast join back — no windows, no cartesian (X165)") {
    val p = plan(q("q327_calibration_report"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    // internal shape: one (fam, bin) aggregation feeding a family rollup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source").as("fam"),
        least(lit(1000000L), expr("n_chars * 1000000 DIV 2000")).as("p"),
        (col("doc_id") % 2).as("y"))
    val binned = docs
      .withColumn("bin", least(lit(9L), expr("p * 10 DIV 1000000")))
      .groupBy("fam", "bin").agg(count(lit(1)).as("n"))
    val p2 = plan(binned.groupBy("fam").agg(sum(col("n"))))
    assert(!p2.contains("Window") && !p2.contains("CartesianProduct"),
      s"calibration shape must stay keyed aggregations:\n$p2")
  }

  test("q328/q329: decomposition and CCF read their checkpoint; the " +
      "internal battery is per-group windows, no self-join on the " +
      "series (X166/X167)") {
    Seq("q328_seasonal_decompose", "q329_cross_correlation").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("Scan ExistingRDD"),
        s"$n: result should read the eager checkpoint:\n$p")
    }
    // internal shape: both lead batteries ride ONE Window operator
    val b = spark.range(50).select(lit("g").as("g"), col("id").as("p"),
      (col("id") % 7).as("x"), (col("id") % 5).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("p")
    val battery = b
      .withColumn("ly", array((1 to 4).map(k =>
        lead(col("y"), k).over(w)): _*))
      .withColumn("lx", array((1 to 4).map(k =>
        lead(col("x"), k).over(w)): _*))
    val p2 = plan(battery)
    assert("Window".r.findAllIn(p2).size == 1,
      s"both lead batteries must share ONE window sort:\n$p2")
  }

  test("q330: diversity is one cells collapse + rollup — no windows, " +
      "no self-join (X168)") {
    val p = plan(q("q330_diversity_report"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("source"))
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val p2 = plan(cells.groupBy("lang").agg(sum(col("c"))))
    assert(!p2.contains("Window") && !p2.contains("CartesianProduct"),
      s"diversity shape must stay keyed aggregations:\n$p2")
  }

  test("q331: harmonic centrality reads the truncated checkpoint — " +
      "consumers never replay BFS rounds (X169)") {
    val p = plan(q("q331_harmonic_centrality"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the centrality read plan:\n$p")
  }

  test("q332: embedding drift reads its checkpoint; the row-dot join " +
      "stays keyed on (family, side, dim) (X170)") {
    val p = plan(q("q332_embedding_drift"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    // internal shape: exploded-frame joins against the dim-sized
    // centroid frame must be keyed, never cartesian
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
    val cent = emb.groupBy("label", "dim")
      .agg(sum(col("e").cast("decimal(38,6)")).as("s"))
    val p2 = plan(emb.join(cent, Seq("label", "dim"))
      .groupBy("label", "vec_id").agg(count(lit(1))))
    assert(!p2.contains("CartesianProduct") && !p2.contains("NestedLoop"),
      s"the row-dot join must stay keyed:\n$p2")
  }

  test("q333: pacf output is a bounded local table; the ACF input " +
      "carries q313's one-window shape (X171)") {
    val p = plan(q("q333_pacf"))
    assert(p.contains("LocalTableScan"),
      s"driver-fold output should be a bounded local table:\n$p")
  }

  test("q334: the Wilson report is one keyed aggregation — no joins, " +
      "no windows (X172)") {
    val p = plan(q("q334_proportion_wilson"))
    assert(p.contains("Scan ExistingRDD"),
      s"result should read the eager checkpoint:\n$p")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source").as("fam"), (col("doc_id") % 2).as("y"))
    val p2 = plan(docs.groupBy("fam").agg(count(lit(1)), sum(col("y"))))
    assert(!p2.contains("Window") && !p2.contains("Join"),
      s"proportion shape must stay one aggregation:\n$p2")
  }
}
