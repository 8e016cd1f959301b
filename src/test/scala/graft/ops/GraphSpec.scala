package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val scale = 1000000000000L

  test("pageRank on a symmetric 2-cycle splits mass evenly and keeps it") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 5).as[(Long, Long)].collect().toMap
    // both nodes are structurally identical: identical ranks, at the
    // fixed point scale/2 each (outdeg 1 passes rank through unchanged)
    assert(pr(1L) == pr(2L))
    assert(math.abs(pr(1L) - scale / 2) <= 5, s"rank drifted: ${pr(1L)}")
  }

  test("pageRank ranks a link hub above leaves and is repartition-stable") {
    // star: 1..5 -> 6 and 6 -> 1 (so node 6 both receives and emits)
    val edges = ((1L to 5L).map(_ -> 6L) :+ (6L -> 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 8).as[(Long, Long)].collect().toMap
    // the hub and the node it links back to both dominate plain leaves
    // (the hub's whole mass flows to node 1 each round, so 1 vs 6 ordering
    // is NOT an invariant — but both tower over the base-rank-only leaves)
    assert(pr(6L) > 10 * pr(2L), s"hub not ranked above plain leaf: $pr")
    assert(pr(1L) > 10 * pr(2L), s"linked-back node not above plain leaf: $pr")
    assert(pr(2L) == pr(5L), s"structurally identical leaves differ: $pr")
    // determinism contract: identical output under a different layout
    val shuffled = Graph.pageRank(edges.repartition(7), iterations = 8)
      .as[(Long, Long)].collect().toMap
    assert(shuffled == pr)
  }

  test("pageRank drops null endpoints, collapses duplicate edges, guards args") {
    val edges = Seq(
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), // duplicate: counts once
      (None, Some(2L)), (Some(2L), None),         // dropped
      (Some(2L), Some(1L))).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 3).as[(Long, Long)].collect().toMap
    // after cleanup this is the symmetric 2-cycle again
    assert(pr.keySet == Set(1L, 2L) && pr(1L) == pr(2L))
    intercept[IllegalArgumentException](Graph.pageRank(edges, iterations = 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges, iterations = 1, dampNum = 100))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges, iterations = 1, scale = 10L))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges.toDF("a", "b"), iterations = 1))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges.filter(lit(false)), iterations = 1))
  }

  test("pageRank mass is conserved on dangle-free graphs (within rounding)") {
    // mirrored random-ish graph: every edge has its reverse, so no dangles
    val fwd = (1L to 30L).map(i => (i, i * 7 % 31 + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val total = Graph.pageRank(edges, iterations = 4)
      .agg(sum("pr")).as[Long].head()
    // every step floor-divides: mass can only shrink, by < 1 per node per
    // division — 4 rounds × ~31 nodes × 2 divisions bounds the loss
    assert(total <= scale && total > scale - 4L * 31 * 2 * 100,
      s"mass not conserved: $total vs $scale")
  }

  test("pageRank redistributeDangling: hand-computed chain, mass conserved") {
    // 1 → 2 → 3, node 3 dangling. r0 = 333333333333 each, base = 5e10.
    // Round 1 by hand: dm = 333333333333, dm DIV 3 = 111111111111;
    //   pr(1) = 5e10 + (85·111111111111) DIV 100            = 144444444444
    //   pr(2) = 5e10 + (85·(333333333333+111111111111)) DIV 100
    //         = 427777777777 = pr(3)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iterations = 1, redistributeDangling = true)
      .as[(Long, Long)].collect().toMap
    assert(pr == Map(1L -> 144444444444L, 2L -> 427777777777L,
      3L -> 427777777777L))
    // WITHOUT redistribution the same round leaks node 3's damped share
    val leaky = Graph.pageRank(edges, iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(leaky(1L) == 50000000000L) // base only — nothing flows into 1
    // multi-round: total mass stays ≈ scale despite the dangle (the whole
    // point of the option); floor losses bound the gap
    val total = Graph.pageRank(edges, iterations = 4,
        redistributeDangling = true)
      .agg(sum("pr")).as[Long].head()
    assert(total <= scale && total > scale - 4L * 3 * 3 * 100,
      s"dangling mass still leaking: $total vs $scale")
  }

  test("triangleStats: K4 plus a pendant, hand-pinned") {
    // K4 on 1..4 (4 triangles, every node in 3 of them, lcc = 1) plus a
    // pendant 5 attached to 1 (degree 4 ⇒ 1's lcc = 2·3/(4·3) = 1/2)
    val edges = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toSeq :+ (1L, 5L)
    val r = Graph.triangleStats(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 4L, 3L, 500000L),
      (2L, 3L, 3L, 1000000L),
      (3L, 3L, 3L, 1000000L),
      (4L, 3L, 3L, 1000000L),
      (5L, 1L, 0L, 0L)), s"got ${r.toSeq}")
  }

  test("triangleStats: directions, duplicates, self-loops, NULLs collapse") {
    val edges = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(2L), Some(2L)),            // self-loop: dropped
      (None, Some(3L)), (Some(3L), None)) // dropped
      .toDF("src", "dst")
    val r = Graph.triangleStats(edges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.forall(n => n._2 == 2 && n._3 == 1 && n._4 == 1000000L),
      s"one clean triangle expected: ${r.toSeq}")
  }

  test("triangleStats: a star has no triangles; a cycle has none either") {
    val star = (2L to 7L).map(1L -> _).toDF("src", "dst")
    assert(Graph.triangleStats(star).agg(sum("tri")).as[Long].head() == 0L)
    val cycle = (1L to 5L).map(i => i -> (i % 5 + 1)).toDF("src", "dst")
    assert(Graph.triangleStats(cycle).agg(sum("tri")).as[Long].head() == 0L)
  }

  test("triangleStats: independent brute-force replica on a hashed graph") {
    // deterministic pseudo-random graph: edge (a,b) present iff the md5
    // of the pair lands under ~30% — the house fixture recipe
    val n = 24
    val pairs = for { a <- 1 to n; b <- 1 to n if a < b } yield (a.toLong, b.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    def kept(a: Long, b: Long): Boolean = {
      val h = md.digest(s"tri:$a:$b".getBytes("UTF-8"))
      ((h(0) & 0xff) << 8 | (h(1) & 0xff)) < (65536 * 3) / 10
    }
    val edges = pairs.filter((kept _).tupled)
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def connected(a: Long, b: Long): Boolean =
      adj.getOrElse(math.min(a, b), Set.empty).contains(math.max(a, b))
    val expect = (for {
      (a, b) <- edges; c <- (b + 1) to n.toLong
      if connected(a, c) && connected(b, c)
    } yield 1).size
    val got = Graph.triangleStats(edges.toDF("src", "dst"))
      .agg(sum("tri")).as[Long].head()
    assert(got == 3L * expect, s"operator $got vs brute-force 3×$expect")
    // repartition determinism
    val again = Graph.triangleStats(edges.toDF("src", "dst").repartition(7))
      .orderBy("id").collect().toSeq
    val first = Graph.triangleStats(edges.toDF("src", "dst"))
      .orderBy("id").collect().toSeq
    assert(again == first)
  }

  test("triangleStats guards: column names checked") {
    val bad = Seq((1L, 2L)).toDF("a", "b")
    val err = intercept[IllegalArgumentException](Graph.triangleStats(bad))
    assert(err.getMessage.contains("src"))
  }

  test("bfsLevels: chain distances, multi-source min, depth cap, undirected (X105)") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    def run(srcs: Seq[Long], depth: Int, undir: Boolean = false) =
      Graph.bfsLevels(chain, srcs.toDF("id"), depth, undirected = undir)
        .as[(Long, Int)].collect().toMap
    // single source walks the chain; first discovery = min hops
    assert(run(Seq(1L), 10) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // the depth cap withholds the tail — absent, never "dist 0"
    assert(run(Seq(1L), 2) == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // multi-source: each node settles at the NEAREST seed
    assert(run(Seq(1L, 4L), 10) ==
      Map(1L -> 0, 4L -> 0, 2L -> 1, 5L -> 1, 3L -> 2))
    // directed: nothing flows backward; undirected mirrors the edges
    assert(run(Seq(3L), 10) == Map(3L -> 0, 4L -> 1, 5L -> 2))
    assert(run(Seq(3L), 10, undir = true) ==
      Map(3L -> 0, 2L -> 1, 4L -> 1, 1L -> 2, 5L -> 2))
    // a seed outside the graph sits alone at dist 0
    assert(run(Seq(99L), 10) == Map(99L -> 0))
    // determinism under repartition
    assert(Graph.bfsLevels(chain.repartition(5), Seq(1L).toDF("id"), 10)
      .as[(Long, Int)].collect().toMap == run(Seq(1L), 10))
    // guards: empty sources, bad columns, depth bounds
    intercept[IllegalArgumentException](
      Graph.bfsLevels(chain, Seq.empty[Long].toDF("id"), 3))
    intercept[IllegalArgumentException](
      Graph.bfsLevels(chain.toDF("a", "b"), Seq(1L).toDF("id"), 3))
    intercept[IllegalArgumentException](
      Graph.bfsLevels(chain, Seq(1L).toDF("id"), 0))
  }

  test("sssp: weighted diamond, leg-bounded semantics, parallel-edge min (X117)") {
    import spark.implicits._
    // 1→2 w5, 1→3 w2, 3→2 w2, 2→4 w1, 3→4 w10: best 1⇝4 is 2+2+1 = 5
    val g = Seq((1L, 2L, 5L), (1L, 3L, 2L), (3L, 2L, 2L), (2L, 4L, 1L),
      (3L, 4L, 10L)).toDF("src", "dst", "w")
    def run(edges: org.apache.spark.sql.DataFrame, srcs: Seq[Long],
        iters: Int, undir: Boolean = false) =
      Graph.sssp(edges, srcs.toDF("id"), iters, undirected = undir)
        .as[(Long, Long)].collect().toMap
    assert(run(g, Seq(1L), 10) == Map(1L -> 0, 3L -> 2, 2L -> 4, 4L -> 5))
    // maxIters = k bounds paths to ≤ k edges — the synchronous
    // Bellman-Ford invariant: 1 leg takes the direct w5 edge; 2 legs
    // finds 1→3→2 (4) and 1→2→4 (6) but not yet the 3-leg optimum
    assert(run(g, Seq(1L), 1) == Map(1L -> 0, 2L -> 5, 3L -> 2))
    assert(run(g, Seq(1L), 2) == Map(1L -> 0, 2L -> 4, 3L -> 2, 4L -> 6))
    // parallel edges collapse to their min BEFORE relaxing
    val par = g.unionAll(Seq((1L, 3L, 7L)).toDF("src", "dst", "w"))
    assert(run(par, Seq(1L), 10) == run(g, Seq(1L), 10))
    // multi-source: nearest seed wins; undirected mirrors weights
    assert(run(g, Seq(2L, 3L), 10) == Map(2L -> 0, 3L -> 0, 4L -> 1))
    assert(run(g, Seq(4L), 10, undir = true) ==
      Map(4L -> 0, 2L -> 1, 3L -> 3, 1L -> 5))
    // zero-weight edges are legal (free hops, still terminates)
    assert(run(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), Seq(1L), 10) ==
      Map(1L -> 0, 2L -> 0))
    // determinism under repartition
    assert(run(g.repartition(7), Seq(1L), 10) == run(g, Seq(1L), 10))
    // guards: negative weight, missing column, empty sources, iter bounds
    refused("edge weight -1 outside [0, 1e15]")(run(
      Seq((1L, 2L, -1L)).toDF("src", "dst", "w"), Seq(1L), 3))
    intercept[IllegalArgumentException](run(g.toDF("a", "b", "c"), Seq(1L), 3))
    intercept[IllegalArgumentException](run(g, Seq.empty[Long], 3))
    intercept[IllegalArgumentException](run(g, Seq(1L), 0))
  }

  test("ssspPaths: canonical parents, tie-break, capped NULL, walkPath (X126)") {
    import spark.implicits._
    // 1→2 w1, 1→3 w2, 2→3 w1: node 3 has TWO cost-tight parents
    // (1 directly at 0+2, and 2 at 1+1) — min id wins
    val g = Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.ssspPaths(g, Seq(1L).toDF("id"), maxIters = 5)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((0L, None)), 2L -> ((1L, Some(1L))),
      3L -> ((2L, Some(1L))), 4L -> ((3L, Some(3L)))), s"got $got")
    // walkPath follows parents source→target; unreached target → empty
    val paths = Graph.ssspPaths(g, Seq(1L).toDF("id"), maxIters = 5)
    assert(Graph.walkPath(paths, 4L) == Seq(1L, 3L, 4L))
    assert(Graph.walkPath(paths, 1L) == Seq(1L))
    assert(Graph.walkPath(paths, 99L) == Seq.empty)
    // a BINDING cap can leave a reached node with no provably-tight
    // in-edge: 1→10 w10, 1→20 w1, 20→10 w1, 10→30 w1 at 2 legs — 30's
    // best ≤2-leg route costs 11 via the w10 edge, but 10's ≤2-leg
    // distance improves to 2, so no in-neighbor is tight → NULL parent
    val capped = Seq((1L, 10L, 10L), (1L, 20L, 1L), (20L, 10L, 1L),
      (10L, 30L, 1L)).toDF("src", "dst", "w")
    val cap2 = Graph.ssspPaths(capped, Seq(1L).toDF("id"), maxIters = 2)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cap2(30L) == ((11L, None)), s"got ${cap2(30L)}")
    // converged: the route proves itself again
    val cap3 = Graph.ssspPaths(capped, Seq(1L).toDF("id"), maxIters = 3)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cap3(30L) == ((3L, Some(10L))))
    // determinism under repartition
    assert(Graph.ssspPaths(g.repartition(7), Seq(1L).toDF("id"), 5)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap == got)
  }

  test("labelPropagation: two triangles with a bridge split into two " +
      "communities; hand-replayed rounds; guards (X136)") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6}, bridge 3–4. Synchronous closed-
    // neighborhood rounds (self-vote, min-label ties), replayed by hand:
    // r1 → (1,1,1,3,4,4); r2 → (1,1,1,4,4,4); r3 → no change
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(g, maxIters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), s"got $got")
    // direction, duplicates and self-loops don't move the answer
    val noisy = g.unionAll(Seq((2L, 1L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst"))
    assert(Graph.labelPropagation(noisy, maxIters = 10)
      .as[(Long, Long)].collect().toMap == got)
    // determinism under repartition
    assert(Graph.labelPropagation(g.repartition(7), maxIters = 10)
      .as[(Long, Long)].collect().toMap == got)
    // a run that cannot settle inside maxIters REFUSES, never returns a
    // mid-flight assignment
    val e = intercept[IllegalArgumentException](
      Graph.labelPropagation(g, maxIters = 1))
    assert(e.getMessage.contains("did not converge"))
    intercept[IllegalArgumentException](
      Graph.labelPropagation(g, maxIters = 0))
    intercept[IllegalArgumentException](
      Graph.labelPropagation(g.select(col("src").as("a"), col("dst")), 5))
  }

  test("walkPaths: batch routes equal per-target walkPath; unreached and " +
      "capped-prefix semantics; corruption refused (X137)") {
    import spark.implicits._
    val g = Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val tree = Graph.ssspPaths(g, Seq(1L).toDF("id"), maxIters = 5)
    val targets = Seq(4L, 3L, 1L, 99L).toDF("id")
    val got = Graph.walkPaths(tree, targets, maxHops = 10)
      .as[(Long, Long, Option[String])].collect()
      .map { case (t, l, r) => t -> ((l, r)) }.toMap
    // batch face ≡ the one-route walk, row per target; unreached target
    // emits (0, NULL) — a total report, never a dropped row
    assert(got == Map(
      4L -> ((3L, Some("1->3->4"))),
      3L -> ((2L, Some("1->3"))),
      1L -> ((1L, Some("1"))),
      99L -> ((0L, None))), s"got $got")
    Seq(4L, 3L, 1L).foreach { t =>
      assert(Graph.walkPath(tree, t).mkString("->") ==
        got(t)._2.get, s"walkPath/walkPaths drift at $t")
    }
    // capped-prefix: a NULL parent at dist > 0 yields the provable
    // suffix (the q286 capped diamond — node 30's parent is unprovable
    // at 2 legs, so its route is just itself)
    val capped = Seq((1L, 10L, 10L), (1L, 20L, 1L), (20L, 10L, 1L),
      (10L, 30L, 1L)).toDF("src", "dst", "w")
    val cap2 = Graph.ssspPaths(capped, Seq(1L).toDF("id"), maxIters = 2)
    val partial = Graph.walkPaths(cap2, Seq(30L).toDF("id"), maxHops = 10)
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(partial == Seq((30L, 1L, Some("30"))), s"got $partial")
    // a parent missing from the tree mid-route is corruption, refused
    val broken = Seq((4L, 2L, Some(7L)), (7L, 1L, Some(8L)))
      .toDF("id", "dist", "parent")
    val e = intercept[IllegalArgumentException](
      Graph.walkPaths(broken, Seq(4L).toDF("id"), maxHops = 10))
    assert(e.getMessage.contains("corrupted"))
    // a parent cycle exhausts the budget live → refused
    val cyclic = Seq((1L, 1L, Some(2L)), (2L, 1L, Some(1L)))
      .toDF("id", "dist", "parent")
    intercept[IllegalArgumentException](
      Graph.walkPaths(cyclic, Seq(1L).toDF("id"), maxHops = 5))
  }

  test("walkPath: a terminated route of exactly maxHops+1 nodes is NOT " +
      "refused; true cycles still are (X126)") {
    import spark.implicits._
    // chain 1→2→3→4→5→6: the full route has 6 nodes — at maxHops = 5 the
    // walk terminates (head at dist 0) and must succeed; the refusal is
    // for TRUNCATION (cur still defined), not budget-exactly-spent
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L)).toDF("src", "dst", "w")
    val paths = Graph.ssspPaths(chain, Seq(1L).toDF("id"), maxIters = 6)
    assert(Graph.walkPath(paths, 6L, maxHops = 5) ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // a corrupted tree with a parent cycle exhausts the budget with the
    // cursor still live → refused
    val cyclic = Seq((1L, 1L, Some(2L)), (2L, 1L, Some(1L)))
      .toDF("id", "dist", "parent")
    val e = intercept[IllegalArgumentException](
      Graph.walkPath(cyclic, 1L, maxHops = 5))
    assert(e.getMessage.contains("cycle"))
  }

  test("bfsPaths: unit-weight parents, min-id tie-break, sources NULL (X126)") {
    import spark.implicits._
    // 1→2, 1→3, 2→4, 3→4: node 4 is level 2 via both 2 and 3 → parent 2
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.bfsPaths(g, Seq(1L).toDF("id"), maxDepth = 5)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((0L, None)), 2L -> ((1L, Some(1L))),
      3L -> ((1L, Some(1L))), 4L -> ((2L, Some(2L)))), s"got $got")
    // walkPath reconstructs the lexicographically-canonical route
    assert(Graph.walkPath(
      Graph.bfsPaths(g, Seq(1L).toDF("id"), 5), 4L) == Seq(1L, 2L, 4L))
  }

  test("kCore: cascading peel to the unique core; empty core; guards (X135)") {
    import spark.implicits._
    // K4 on 1..4 plus a pendant chain 4–5–6: peeling at k = 2 drops 6,
    // THEN 5 (its degree fell to 1) — the cascade — leaving exactly K4
    // with in-core degree 3 everywhere
    val g = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toSeq ++ Seq((4L, 5L), (5L, 6L))
    def run(edges: Seq[(Long, Long)], k: Int, iters: Int = 200) =
      Graph.kCore(edges.toDF("src", "dst"), k, maxIters = iters)
        .as[(Long, Long)].collect().toMap
    assert(run(g, 2) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(run(g, 3) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // no 4-core exists: empty frame, never a fabricated row
    assert(run(g, 4).isEmpty)
    // self-loops and duplicates cannot keep a node alive
    val dirty = g ++ Seq((6L, 6L), (1L, 2L), (2L, 1L))
    assert(run(dirty, 2) == run(g, 2))
    // determinism under repartition
    assert(Graph.kCore(g.toDF("src", "dst").repartition(7), 2)
      .as[(Long, Long)].collect().toMap == run(g, 2))
    // a deep peel past maxIters REFUSES instead of spinning
    val chain = (1L to 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    intercept[IllegalArgumentException](run(chain, 2, iters = 2))
    intercept[IllegalArgumentException](run(g, 0))
    intercept[IllegalArgumentException](
      Graph.kCore(g.toDF("a", "b"), 2))
  }

  test("personalizedPageRank: hand-pinned rounds, seed locality, " +
      "uniform-seed degeneracy, dangling conservation (X147)") {
    import spark.implicits._
    // 2-cycle, seed {1}: hand integer rounds at scale 1e12, damp 85/100.
    // init (1e12, 0); round 1: pr1 = base = 1.5e11, pr2 = 8.5e11;
    // round 2: pr1 = 1.5e11 + 85%·8.5e11 = 8.725e11, pr2 = 1.275e11
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seed1 = Seq(1L).toDF("id")
    val r1 = Graph.personalizedPageRank(cyc, seed1, iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 150000000000L, 2L -> 850000000000L))
    val r2 = Graph.personalizedPageRank(cyc, seed1, iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 872500000000L, 2L -> 127500000000L))
    // seed locality: mass never reaches a component the seeds can't:
    // two disconnected 2-cycles, seeds in the first only
    val two = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val loc = Graph.personalizedPageRank(two, seed1, iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(loc(3L) == 0L && loc(4L) == 0L)
    assert(loc(1L) + loc(2L) > 1000000000000L - 10L)
    // uniform-seed degeneracy: seeding EVERY node IS pageRank with
    // dangling redistribution, bit for bit (base, init, and D DIV N all
    // coincide) — on a graph WITH a dangling node so the term is live
    val dangGraph = Seq((1L, 2L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val allNodes = Seq(1L, 2L, 3L).toDF("id")
    val ppr = Graph.personalizedPageRank(dangGraph, allNodes,
      iterations = 4).as[(Long, Long)].collect().toMap
    val pr = Graph.pageRank(dangGraph, iterations = 4,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    assert(ppr == pr)
    // dangling conservation: a pure sink star teleports its mass back
    // to the seed, total stays ≈ scale (floor leak ≤ a few units/round)
    val star = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val cons = Graph.personalizedPageRank(star, seed1, iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(cons.values.sum > 1000000000000L - 50L)
    // without redistribution the same star LEAKS (the stated trade)
    val leak = Graph.personalizedPageRank(star, seed1, iterations = 6,
      redistributeDangling = false).as[(Long, Long)].collect().toMap
    assert(leak.values.sum < cons.values.sum)
    // an isolated seed (absent from the edge set) joins the node
    // universe and holds teleport share
    val iso = Graph.personalizedPageRank(cyc, Seq(1L, 9L).toDF("id"),
      iterations = 3).as[(Long, Long)].collect().toMap
    assert(iso.contains(9L) && iso(9L) > 0L)
    // determinism under repartition
    assert(Graph.personalizedPageRank(two.repartition(7), seed1,
      iterations = 5).as[(Long, Long)].collect().toMap == loc)
    // guards: empty/NULL seeds, missing columns
    intercept[IllegalArgumentException](Graph.personalizedPageRank(cyc,
      Seq.empty[Long].toDF("id"), iterations = 3))
    intercept[IllegalArgumentException](Graph.personalizedPageRank(cyc,
      Seq(1L).toDF("x"), iterations = 3))
    intercept[IllegalArgumentException](Graph.personalizedPageRank(
      cyc.toDF("a", "b"), seed1, iterations = 3))
  }

  test("negativeCycleWitnesses: planted cycle named, clean graph certified " +
      "empty, refusals (X144)") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long, Long)], srcs: Seq[Long],
        iters: Int = 200) =
      Graph.negativeCycleWitnesses(edges.toDF("src", "dst", "w"),
        srcs.toDF("id"), maxIters = iters)
        .as[(Long, Long, Long)].collect().toSet
    // chain 0→1→2 with a planted negative 2-cycle 1⇄2 (net −2): |V| = 3,
    // stable = dist over ≤ 2-edge walks, witness = ≤ 3-edge walks.
    // Hand Bellman-Ford from 0: d0 = (0,∞,∞); d1 = (0,5,∞);
    // d2 = (0,5,8)  [1→2 w=3]; witness round: 2→1 w=−5 improves 1 to 3,
    // 1→2 improves nothing (5+3=8 not < 8) — witness set = {1: 5→3}
    val g = Seq((0L, 1L, 5L), (1L, 2L, 3L), (2L, 1L, -5L))
    assert(run(g, Seq(0L)) == Set((1L, 5L, 3L)))
    // all-positive weights: converges, EMPTY frame = the certificate
    val clean = Seq((0L, 1L, 5L), (1L, 2L, 3L), (2L, 0L, 7L))
    assert(run(clean, Seq(0L)).isEmpty)
    // negative edges WITHOUT a negative cycle: still certified empty
    val negOk = Seq((0L, 1L, 5L), (1L, 2L, -3L), (0L, 2L, 10L))
    assert(run(negOk, Seq(0L)).isEmpty)
    // a negative cycle NOT reachable from the source set: empty (the
    // verdict is source-relative, the classical Bellman-Ford contract)
    val far = Seq((0L, 1L, 1L), (5L, 6L, -1L), (6L, 5L, -1L))
    assert(run(far, Seq(0L)).isEmpty)
    assert(run(far, Seq(5L)).nonEmpty)
    // determinism under repartition
    assert(Graph.negativeCycleWitnesses(
      g.toDF("src", "dst", "w").repartition(7), Seq(0L).toDF("id"))
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 5L, 3L)))
    // parallel edges collapse to their min before relaxation
    val par = g ++ Seq((0L, 1L, 9L))
    assert(run(par, Seq(0L)) == Set((1L, 5L, 3L)))
    // REFUSED: budget below |V|−1 (cannot certify), oversized weights,
    // missing columns, empty sources
    intercept[IllegalArgumentException](run(g, Seq(0L), iters = 1))
    refused("edge weight 2000000000000000 outside [-1e15, 1e15]")(
      run(Seq((0L, 1L, 2000000000000000L)), Seq(0L)))
    intercept[IllegalArgumentException](
      Graph.negativeCycleWitnesses(g.toDF("a", "b", "c"), Seq(0L).toDF("id")))
    intercept[IllegalArgumentException](
      Graph.negativeCycleWitnesses(g.toDF("src", "dst", "w"),
        Seq.empty[Long].toDF("id")))
  }

  test("hits: hand-pinned round, BigInt replica over more rounds, role " +
      "split, guards (X152)") {
    // 1→3, 2→3, 3→4 at scale 1e6: h0 = 250000 each;
    // a_raw = (0,0,500000,250000), asum 750000 → a = (0,0,666666,333333);
    // h_raw = (666666,666666,333333,0), hsum 1666665 → exact divisions
    // h = (400000,400000,200000,0)
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val one = Graph.hits(edges, iterations = 1, scale = 1000000L)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 400000L, 0L), (2L, 400000L, 0L),
      (3L, 200000L, 666666L), (4L, 0L, 333333L)), s"got $one")
    // BigInt replica of the exact integer loop on a denser graph, 3 rounds
    val g2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L),
      (2L, 4L)).toDF("src", "dst")
    val scale = 1000000000000L
    val nodesL = Seq(1L, 2L, 3L, 4L)
    val eL = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (2L, 4L))
    var h = nodesL.map(_ -> BigInt(scale / 4)).toMap
    var a = Map.empty[Long, BigInt]
    for (_ <- 1 to 3) {
      val araw = nodesL.map(v =>
        v -> eL.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      val asum = araw.values.sum
      a = araw.map { case (k, v) => k -> v * scale / asum }
      val hraw = nodesL.map(u =>
        u -> eL.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      val hsum = hraw.values.sum
      h = hraw.map { case (k, v) => k -> v * scale / hsum }
    }
    val got = Graph.hits(g2, iterations = 3)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == nodesL.map(v => (v, h(v).toLong, a(v).toLong)),
      s"got $got")
    // L1 normalization: each reported vector sums to ≤ scale (floors)
    // and within scale − n of it (each floor loses < 1)
    assert(got.map(_._2).sum <= scale &&
      got.map(_._2).sum > scale - 4)
    assert(got.map(_._3).sum <= scale &&
      got.map(_._3).sum > scale - 4)
    // determinism under repartition
    assert(Graph.hits(g2.repartition(7), iterations = 3)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq == got)
    // guards: empty graph, scale too small for n, iteration bounds
    intercept[IllegalArgumentException](
      Graph.hits(Seq.empty[(Long, Long)].toDF("src", "dst"), 1))
    intercept[IllegalArgumentException](Graph.hits(edges, 0))
    intercept[IllegalArgumentException](Graph.hits(
      (1L to 2000L).map(i => (i, i + 2000L)).toDF("src", "dst"), 1,
      scale = 1000000L))
  }

  test("modularity: two-triangle hand case, all-in-one zero pin, " +
      "singleton negative truncation, empty, guards (X159)") {
    // two triangles bridged by one edge: m = 7; the natural partition
    // has L_c = 3, D_c = 7 each -> Q*4m^2 = 2*(84-49) = 70, Q = 70/196
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val part = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "label")
    val got = Graph.modularity(tri, part)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq((7L, 2L, Some(357142L))), s"got $got")
    // everything in ONE community scores exactly zero
    val one = Graph.modularity(tri,
      part.select(col("id"), lit(9L).as("label")))
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(one == Seq((7L, 1L, Some(0L))), s"got $one")
    // singletons on a triangle: Q = -sum(deg^2)/4m^2 = -12/36, and the
    // division truncates TOWARD ZERO on the negative value
    val t3 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val sing = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "label")
    val neg = Graph.modularity(t3, sing)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(neg == Seq((3L, 3L, Some(-333333L))), s"got $neg")
    // duplicate/mirrored/self-loop edges canonicalize away first
    val messy = tri.unionAll(tri.select(col("dst").as("src"),
      col("src").as("dst"))).unionAll(Seq((1L, 1L)).toDF("src", "dst"))
    assert(Graph.modularity(messy, part)
      .as[(Long, Long, Option[Long])].collect().toSeq == got)
    // no edges -> NULL q, census still reported
    val none = Graph.modularity(
      Seq.empty[(Long, Long)].toDF("src", "dst"), sing)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(none == Seq((0L, 3L, None)), s"got $none")
    // guards: duplicate assignment id, uncovered endpoint, NULL label
    val eDup = intercept[IllegalArgumentException](Graph.modularity(t3,
      sing.unionAll(Seq((1L, 7L)).toDF("id", "label"))))
    assert(eDup.getMessage.contains("more than once"))
    refused("missing from the assignment")(Graph.modularity(tri,
      sing))
    refused("NULL label")(Graph.modularity(t3,
      Seq((1L, Some(1L)), (2L, Some(2L)), (3L, Option.empty[Long]))
        .toDF("id", "label")))
    // determinism under repartition
    assert(Graph.modularity(tri.repartition(5), part.repartition(3))
      .as[(Long, Long, Option[Long])].collect().toSeq == got)
  }

  test("harmonicCentrality: path-graph hand values, truncated horizon, " +
      "isolated seed zero, disconnection handled, guards (X169)") {
    // undirected path 1-2-3-4: H(1) = 1 + 1/2 + 1/3; H(2) = 1+1+1/2
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.harmonicCentrality(path,
        Seq(1L, 2L, 9L).toDF("id"), maxDepth = 10, undirected = true)
      .orderBy("seed").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1000000L + 500000L + 333333L),
      (2L, 3L, 2500000L),
      // seed 9 is not in the edge set: isolated candidate scores 0
      (9L, 0L, 0L)), s"got $got")
    // binding maxDepth truncates the horizon conservatively
    val trunc = Graph.harmonicCentrality(path, Seq(1L).toDF("id"),
        maxDepth = 1, undirected = true)
      .as[(Long, Long, Long)].collect().toSeq
    assert(trunc == Seq((1L, 1L, 1000000L)), s"got $trunc")
    // directed: 4 reaches nothing forward
    val d4 = Graph.harmonicCentrality(path, Seq(4L).toDF("id"),
        maxDepth = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(d4 == Seq((4L, 0L, 0L)), s"got $d4")
    // guards: empty seeds, seed cap
    intercept[IllegalArgumentException](Graph.harmonicCentrality(path,
      Seq.empty[Long].toDF("id")))
    intercept[IllegalArgumentException](Graph.harmonicCentrality(path,
      (1L to 20L).toDF("id"), maxSeeds = 5))
    // determinism under repartition
    assert(Graph.harmonicCentrality(path.repartition(5),
      Seq(1L, 2L, 9L).toDF("id"), maxDepth = 10, undirected = true)
      .orderBy("seed").as[(Long, Long, Long)].collect().toSeq == got)
  }

  test("betweennessSampled: path-bridge hand case, diamond sigma split, " +
      "guards (X176)") {
    // planted bridge: path 1-2-3-4-5 (undirected), seeds {1, 5} — the
    // interior nodes broker everything: per seed the Brandes chain
    // gives the near endpoint 3e6, middle 2e6, far 1e6; summed over
    // both seeds every interior node scores exactly 4e6, endpoints 0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.betweennessSampled(path, Seq(1L, 5L).toDF("id"),
        maxDepth = 10, undirected = true)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 4000000L), (3L, 4000000L),
      (4L, 4000000L), (5L, 0L)), s"got $got")
    // diamond 1→2→4, 1→3→4 (directed), seed 1: σ(4) = 2, so each
    // middle node carries HALF the dependency — the stated floor
    // (1·(1e6+0)) DIV 2 = 500000
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val dg = Graph.betweennessSampled(diamond, Seq(1L).toDF("id"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(dg == Seq((2L, 500000L), (3L, 500000L), (4L, 0L)), s"got $dg")
    // truncated horizon: maxDepth 1 sees no two-hop paths — every
    // reached node brokers nothing
    val h1 = Graph.betweennessSampled(diamond, Seq(1L).toDF("id"),
        maxDepth = 1)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(h1 == Seq((2L, 0L), (3L, 0L)), s"got $h1")
    // guards: empty seed set; maxSeeds
    intercept[IllegalArgumentException](Graph.betweennessSampled(path,
      Seq.empty[Long].toDF("id")))
    intercept[IllegalArgumentException](Graph.betweennessSampled(path,
      Seq(1L, 2L).toDF("id"), maxSeeds = 1))
    // determinism under repartition
    assert(Graph.betweennessSampled(path.repartition(5),
      Seq(1L, 5L).toDF("id"), maxDepth = 10, undirected = true)
      .orderBy("id").as[(Long, Long)].collect().toSeq == got)
  }
}
