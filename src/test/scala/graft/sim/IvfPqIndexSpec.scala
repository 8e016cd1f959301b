package graft.sim


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the lifecycle contract of the maintained IVF+PQ index (q195's
  * engine surface): append is map-only and never rewrites the existing
  * index; build-then-append is retrieval-equivalent to one full build. */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  // dim 4, m=2 subspaces of width 2, K=2 centroids each; 2 IVF cells —
  // small enough to reason about, big enough to exercise pruning
  private val codebooks: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
    Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))
  private val centroids: Seq[Seq[Double]] = Seq(
    Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))

  private def vecs(ids: Range) = ids.map { i =>
    (i.toLong, Array.tabulate(4)(d => ((i * 31 + d * 17) % 97) / 97.0f))
  }.toDF("vec_id", "embedding")

  test("encode is map-only: scan -> project, no Exchange (q195 pin)") {
    val plan = IvfPqIndex.encode(vecs(0 until 50), "vec_id", "embedding",
      codebooks, centroids).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"append-path encode shuffles:\n$plan")
  }

  test("append adds files without touching a byte of the existing index") {
    val root = graft.core.Scratch.workDir("ivfpq").toString
    val idx = s"$root/index"
    IvfPqIndex.build(vecs(0 until 40), "vec_id", "embedding",
      codebooks, centroids, idx)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = files()
    assert(before.nonEmpty)
    IvfPqIndex.append(vecs(40 until 80), "vec_id", "embedding",
      codebooks, centroids, idx)
    val after = files()
    // every pre-existing file survives identical (name, size, mtime) —
    // the append rewrote nothing
    before.foreach { case (path, sig) =>
      assert(after.get(path).contains(sig),
        s"append rewrote or removed an existing index file: $path")
    }
    assert(after.size > before.size, "append landed no new files")
    // and the index now serves both batches
    val got = spark.read.parquet(idx).select("vec_id").as[Long].collect().toSet
    assert(got == (0L until 80L).toSet)
  }

  test("search prunes to probed cell partitions and never reads floats from the index") {
    val root = graft.core.Scratch.workDir("ivfpq3").toString
    val all = vecs(0 until 60)
    IvfPqIndex.build(all.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", codebooks, centroids, s"$root/idx")
    IvfPqIndex.append(all.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", codebooks, centroids, s"$root/idx")
    val qv = Seq(0.9, 0.1, 0.0, 0.05)
    // pin the CANDIDATE stage — search() collects it eagerly for the
    // id-pushdown fetch, so the scan shape lives in this plan
    val plan = IvfPqIndex.candidates(spark, s"$root/idx", "vec_id",
        qv, codebooks, centroids, nProbe = 1, kCand = 12)
      .queryExecution.executedPlan.toString
    // the probe-cell filter must prune PARTITIONS at planning time, and
    // the index scan must read codes only — the appended index keeps the
    // exact q155 retrieval shape
    val idxScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("idx")).toSeq
    assert(idxScans.nonEmpty, s"no index scan found:\n$plan")
    assert(idxScans.forall(l =>
        l.contains("PartitionFilters: [") &&
        l.split("PartitionFilters: ")(1).takeWhile(_ != ']').contains("cell")),
      s"probe filter did not reach PartitionFilters:\n${idxScans.mkString("\n")}")
    assert(!idxScans.exists(_.contains("embedding")),
      s"index scan reads the float column:\n${idxScans.mkString("\n")}")
  }

  test("search re-rank fetch pushes candidate ids into the corpus scan") {
    val root = graft.core.Scratch.workDir("ivfpq5").toString
    IvfPqIndex.build(vecs(0 until 60), "vec_id", "embedding",
      codebooks, centroids, s"$root/idx")
    // parquet-backed corpus: an in-memory fixture would fold the filter
    // into a LocalTableScan and hide the pushdown this test pins
    vecs(0 until 60).write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val plan = IvfPqIndex.search(spark, s"$root/idx", corpus, "vec_id",
        "embedding", Seq(0.9, 0.1, 0.0, 0.05), codebooks, centroids,
        nProbe = 1, kCand = 10, k = 5)
      .queryExecution.executedPlan.toString
    val corpusScan = plan.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("corpus")).getOrElse("")
    assert(corpusScan.contains("PushedFilters: [") &&
        corpusScan.contains("In(vec_id"),
      s"candidate-id predicate did not reach the corpus scan:\n$corpusScan")
  }

  test("maintain compacts only fragmented cells; retrieval unchanged") {
    val root = graft.core.Scratch.workDir("ivfpq4").toString
    val idx = s"$root/idx"
    IvfPqIndex.build(vecs(0 until 20), "vec_id", "embedding",
      codebooks, centroids, idx)
    // accrete fragmentation through repeated appends
    (1 to 5).foreach(i => IvfPqIndex.append(vecs(i * 20 until (i + 1) * 20),
      "vec_id", "embedding", codebooks, centroids, idx))
    def cellFiles(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified()))
          .sortBy(_._1)).toMap
    val before = cellFiles()
    assert(before.values.exists(_.size > 3), s"fixture not fragmented: $before")
    val qv = Seq(0.9, 0.1, 0.0, 0.05)
    val corpus = vecs(0 until 120)
    def top() = IvfPqIndex.search(spark, idx, corpus, "vec_id", "embedding",
        qv, codebooks, centroids, nProbe = 2, kCand = 20, k = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val beforeTop = top()
    // threshold above every cell's count: no-op, every byte untouched
    assert(IvfPqIndex.maintain(spark, idx, maxFilesPerCell = 100,
      targetBytes = 1L << 20).isEmpty)
    assert(cellFiles() == before)
    // real maintenance: fragmented cells compact, content identical
    val compacted = IvfPqIndex.maintain(spark, idx, maxFilesPerCell = 3,
      targetBytes = 1L << 20)
    assert(compacted.nonEmpty)
    val after = cellFiles()
    compacted.foreach { c =>
      assert(after(s"cell=$c").size < before(s"cell=$c").size,
        s"cell $c not packed: ${after(s"cell=$c")}")
    }
    // quiescent cells byte-identical
    before.keys.filterNot(k => compacted.contains(
        k.stripPrefix("cell=").toInt)).foreach { k =>
      assert(after(k) == before(k), s"untouched cell $k changed")
    }
    assert(top() == beforeTop)
  }

  test("build+append retrieval == single full build retrieval") {
    val root = graft.core.Scratch.workDir("ivfpq2").toString
    val all = vecs(0 until 60).cache()
    IvfPqIndex.build(all.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", codebooks, centroids, s"$root/incr")
    IvfPqIndex.append(all.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", codebooks, centroids, s"$root/incr")
    IvfPqIndex.build(all, "vec_id", "embedding", codebooks, centroids,
      s"$root/full")
    val qv = all.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    def top(path: String) = IvfPqIndex.search(spark, path, all, "vec_id",
        "embedding", qv, codebooks, centroids, nProbe = 1, kCand = 12, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(top(s"$root/incr") == top(s"$root/full"))
    all.unpersist()
  }

  test("searchAll == per-probe search, off ONE pruned index scan") {
    val root = graft.core.Scratch.workDir("ivfpq4").toString
    val all = vecs(0 until 60).cache()
    IvfPqIndex.build(all, "vec_id", "embedding", codebooks, centroids,
      s"$root/idx")
    val probes = all.filter(col("vec_id") < 8)
    val batched = IvfPqIndex.searchAll(spark, s"$root/idx", all, "vec_id",
      "embedding", probes, "vec_id", "embedding", codebooks, centroids,
      nProbe = 1, kCand = 12, k = 5)
    val got = batched.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    // ground truth: the single-query face, probe by probe
    val expected = probes.select("vec_id", "embedding").collect().flatMap { r =>
      val pid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toSeq
      IvfPqIndex.search(spark, s"$root/idx", all, "vec_id", "embedding",
          qv, codebooks, centroids, nProbe = 1, kCand = 12, k = 5)
        .collect().zipWithIndex
        .map { case (x, i) => (pid, x.getLong(0), x.getDouble(2), i + 1) }
    }.toSeq.sortBy(t => (t._1, t._4))
    assert(got == expected, "batched retrieval diverged from per-probe search")
    // plan pins on the CANDIDATE stage (searchAll collects it eagerly for
    // the id-pushdown fetch, so the scan shape lives in this plan):
    // exactly ONE scan of the index path, partition-pruned on the probed
    // cells — the whole point of the batched face
    val plan = IvfPqIndex.candidatesAll(spark, s"$root/idx", "vec_id",
        probes, "vec_id", "embedding", codebooks, centroids,
        nProbe = 1, kCand = 12)
      .queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("idx")).toSeq
    assert(idxScans.size == 1, s"expected ONE index scan, got:\n$plan")
    assert("PartitionFilters: \\[cell#\\d+ IN ".r
      .findFirstIn(idxScans.head).isDefined,
      s"index scan not partition-pruned:\n${idxScans.head}")
    // and the re-rank fetch filters the corpus to candidate ids before the
    // join (the pushdown face; on a cached frame it shows as INSET)
    val finalPlan = batched.queryExecution.executedPlan.toString
    assert(finalPlan.contains("INSET") || finalPlan.contains("vec_id IN"),
      s"no candidate-id pushdown found:\n$finalPlan")
    all.unpersist()
  }

  test("degenerate probe vectors resolve to NULL cells, never arbitrary ones") {
    // a null / length-mismatched probe makes every (ns, c) struct's ns
    // null; array_sort would rank those FIRST and hand back cells 0..n-1 —
    // the column face must instead emit null cells (ivfCellAssign's
    // "lands in no partition" contract), keeping candidatesAll's
    // null-cell guard live
    val probes = Seq(
      (0L, Some(Seq(1.0f, 0.0f, 0.0f, 0.0f))), // healthy: nearest = cell 0
      (1L, Some(Seq(1.0f, 0.0f))),             // wrong dim → null cells
      (2L, Option.empty[Seq[Float]])           // null vec  → null cells
    ).toDF("pid", "v")
    val cells = probes.select(col("pid"),
        Similarity.ivfProbeCellsCol(col("v"), centroids, nProbe = 2).as("c"))
      .as[(Long, Seq[Option[Int]])].collect().toMap
    assert(cells(0L).flatten == Seq(0, 1))
    assert(cells(1L).forall(_.isEmpty), s"mismatched dim probed ${cells(1L)}")
    assert(cells(2L).forall(_.isEmpty), s"null vector probed ${cells(2L)}")
  }
}
