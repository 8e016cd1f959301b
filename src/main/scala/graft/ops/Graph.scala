package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpointing
import graft.core.Checkpointing.AtCap

/** Iterative link-graph analytics (X32) — the web-corpus curation signal
  * family: quality weighting by link structure (Common-Crawl-style pipelines
  * rank hosts by centrality before sampling), influence propagation over
  * citation/reference graphs, boilerplate-hub detection. The dedup module's
  * connected components ([[graft.dedup.Dedup.connectedComponents]]) is the
  * reachability member of this family; PageRank is the weighted one.
  *
  * Determinism contract: ranks are SCALED INTEGERS (fixed-point), every
  * per-iteration step is integer arithmetic (`DIV`, `*`, `+`) on
  * non-negative longs — no float summation, so results are bit-identical
  * under re-partitioning, retries, AQE re-plans, and across engines
  * (truncating division of non-negative integers agrees with floor
  * division; the q132 DuckDB oracle replays all iterations exactly).
  * The fixed-point variant converges to within 1/scale of float PageRank
  * per step; at the default scale=1e12 the drift is noise.
  */
object Graph {

  /** `(src, dst)` as longs with NULL endpoints dropped, self-loops dropped
    * unless `selfLoops`, mirrored when `mirror`, deduped. */
  private def canonicalEdges(edges: DataFrame, mirror: Boolean,
      selfLoops: Boolean = true): DataFrame = {
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      s"edge frame needs (src, dst) columns, got ${edges.columns.mkString(", ")}")
    val present = col("src").isNotNull && col("dst").isNotNull
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(if (selfLoops) present else present && col("src") =!= col("dst"))
    (if (mirror) fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      else fwd).distinct()
  }

  /** Runs `body` over [[canonicalEdges]] partitioned on `src` and persisted
    * for the call: the layout every round's join by `src` reuses. */
  private def withEdges[T](edges: DataFrame, mirror: Boolean,
      selfLoops: Boolean = true)(body: DataFrame => T): T = {
    val e = canonicalEdges(edges, mirror, selfLoops)
      .repartition(col("src"))
      .persist()
    try body(e) finally e.unpersist()
  }

  /** PageRank (Page, Brin, Motwani, Winograd 1999, "The PageRank citation
    * ranking") over a directed edge list `(src, dst)`, `iterations` rounds
    * of the power method with damping `dampNum/dampDen` (default 85/100).
    *
    * Per round: every node sends `rank DIV outdeg` along each out-edge;
    * each node's next rank is `base + damp · (incoming sum)` with
    * `base = scale·(1−damp)/N` (integer-divided once on the driver).
    * Dangling nodes (no out-edges) leak their mass by default — the
    * standard simplification; deterministic, documented, and absent
    * entirely when the caller mirrors edges (undirected graphs have no
    * dangles). `redistributeDangling = true` restores the canonical
    * teleport treatment for DIRECTED graphs: each round the dangling
    * nodes' total rank D is folded into every node's incoming mass as
    * `D DIV N` BEFORE damping — next rank = `base + damp·(inc + D DIV N)`
    * — keeping total mass ≈ scale so ranks stay comparable across
    * disconnected subgraphs. Still pure integer arithmetic: D is one
    * partial-aggregated scalar per round (an anti-join of the node-sized
    * rank frame against out-degrees, broadcast back as a 1-row frame — no
    * driver action, no corpus shuffle), and the per-node division floors
    * exactly the same way on every engine (the ≤ N unit remainder leaks,
    * like every other floor in the contract). Duplicate edges are
    * collapsed (unweighted graph); self-loops count like any edge. NULL
    * endpoints are dropped.
    *
    * Output: `(id, pr)` — one row per node appearing in any edge, `pr` a
    * scaled-integer rank (sum ≤ scale; divide by scale for probabilities).
    *
    * Scale shape: edges and degrees are computed ONCE, persisted
    * pre-partitioned on `src`, so each iteration's rank join reuses the
    * cached layout and only the (node-sized) rank frame shuffles; the
    * per-round plan is join → partial-aggregated sum on `dst` → map-only
    * rank update — two node/edge-sized shuffles, no corpus-sized driver
    * state (the only driver scalar is N, one count). Each round ends in a
    * lineage truncation ([[graft.core.Checkpointing.loop]]) so round N
    * never replays rounds 1..N−1: `localCheckpoint` by default (zero IO —
    * but partitions pin to executors, and a lost executor kills the loop),
    * or a reliable `checkpoint` when `checkpointDir` names a fault-tolerant
    * location — the multi-node production choice (rank frames are
    * node-sized, so the per-round write is cheap insurance). Iterations
    * are a hard cap, not a convergence probe: power-method error decays
    * as damp^k, so k=O(log(1/ε)) rounds suffice and the caller picks k —
    * no per-round convergence count is run.
    */
  def pageRank(edges: DataFrame, iterations: Int, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      redistributeDangling: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampNum > 0 && dampDen > dampNum,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    // total mass never exceeds scale, so dampNum·inc and scale·dampDen are
    // the largest products formed — keep them far from Long overflow
    require(scale <= Long.MaxValue / dampDen / 2,
      s"scale $scale too large for dampDen $dampDen (long overflow)")
    withEdges(edges, mirror = false) { e =>
      val nodes = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .distinct()
        .persist()
      // out-degrees ride the same src layout as the edges they'll join
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
      // loop-invariant: the (edge, out-degree) join never changes across
      // rounds — materialize it once instead of re-joining every iteration
      val ed = e.join(deg, "src").persist()
      // the finally matters: a mid-iteration job failure (or the empty-graph
      // require) must not strand edge-sized caches in executor storage for
      // the session lifetime — the last round's truncation means the
      // returned frame is already materialized before the caches drop
      try {
        val n = nodes.count() // materializes both caches; the one driver scalar
        require(n > 0, "pageRank needs at least one edge after null/dup removal")
        val base = (scale * (dampDen - dampNum)) / (dampDen * n)
        Checkpointing.loop(nodes.select(col("id"), lit(scale / n).as("pr")),
            checkpointDir, iterations, AtCap.Return)(step = r => {
          val ranks = r.frame
          val incoming = ed
            .join(ranks.select(col("id").as("src"), col("pr")), "src")
            .select(col("dst").as("id"), expr("pr DIV outdeg").as("contrib"))
            .groupBy("id")
            .agg(sum(col("contrib")).as("inc"))
          if (redistributeDangling) {
            // this round's dangling mass: ranks of nodes with no
            // out-edge — a node-sized anti-join reduced to ONE row,
            // broadcast into the update (total mass ≤ scale, so the
            // products below stay inside the overflow budget)
            val dang = ranks
              .join(deg.select(col("src").as("id")), Seq("id"), "left_anti")
              .agg(coalesce(sum(col("pr")), lit(0L)).as("__dmass"))
            nodes.join(incoming, Seq("id"), "left")
              .crossJoin(broadcast(dang))
              .select(col("id"),
                (lit(base) + expr(s"($dampNum * (coalesce(inc, 0L)" +
                  s" + (__dmass DIV $n))) DIV $dampDen")).as("pr"))
          } else
            nodes.join(incoming, Seq("id"), "left")
              .select(col("id"),
                (lit(base) + expr(s"($dampNum * coalesce(inc, 0L)) DIV $dampDen"))
                  .as("pr"))
        })
      } finally { nodes.unpersist(); deg.unpersist(); ed.unpersist() }
    }
  }

  /** X147 — PERSONALIZED PageRank (Page et al. 1999 §6's personalization
    * vector; Haveliwala WWW'02, "Topic-Sensitive PageRank"): [[pageRank]]'s
    * loop with the uniform teleport replaced by a SEED-restart vector —
    * rank mass teleports only to the seed set, so scores mean "relevance
    * reachable from the trusted seeds", the crawl-curation companion the
    * X32 story implies (seed hosts you trust → how much of the link graph
    * inherits that trust), and the standard similarity-to-seeds measure
    * for related-entity retrieval.
    *
    * The fixed-point integer contract carries VERBATIM: ranks are scaled
    * longs, every step `DIV`/`*`/`+` on non-negative integers —
    * bit-identical under repartitioning, retries, and across engines.
    * Changes vs [[pageRank]], each stated: the teleport base is
    * `scale·(1−damp) DIV (dampDen·|S|)` ON SEEDS and 0 elsewhere; the
    * initial vector is `scale DIV |S|` on seeds, 0 elsewhere (the
    * restart distribution — round counts are part of the contract, so
    * the start matters and is stated); with `redistributeDangling`
    * (default TRUE — the canonical PPR treatment) each round's dangling
    * mass D folds back as `D DIV |S|` onto the SEEDS before damping —
    * teleporting dangling mass BY the restart vector, which is what
    * keeps total mass ≈ scale conserved instead of leaking to nodes the
    * seeds never endorsed. Seeds absent from the edge set still join the
    * node universe (isolated trusted hosts hold their own teleport
    * share; they are dangling by construction).
    *
    * Scale shape identical to [[pageRank]]: edges/degrees persist
    * pre-partitioned once, node-sized rank frames per round, one
    * broadcast 1-row dangling scalar, Checkpointing-truncated rounds.
    * The seed flag rides the node frame (one keyed join built once).
    * Output: `(id, pr)` — scaled-integer personalized rank. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      redistributeDangling: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampNum > 0 && dampDen > dampNum,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    require(scale <= Long.MaxValue / dampDen / 2,
      s"scale $scale too large for dampDen $dampDen (long overflow)")
    require(seeds.columns.contains("id"),
      s"seed frame needs an (id) column, got ${seeds.columns.mkString(", ")}")
    withEdges(edges, mirror = false) { e =>
      val sd = seeds.select(col("id").cast("long").as("id"))
        .filter(col("id").isNotNull).distinct()
      // seed flag rides the node universe: edge endpoints ∪ seeds
      val nodes = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .unionAll(sd)
        .distinct()
        .join(sd.select(col("id"), lit(1L).as("__seed")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__seed"), lit(0L)).as("__seed"))
        .persist()
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
      // loop-invariant (the pageRank stance): edge ⋈ out-degree once
      val ed = e.join(deg, "src").persist()
      try {
        val sCount = nodes.filter(col("__seed") === 1L).count()
        require(sCount > 0,
          "personalizedPageRank needs at least one non-null seed")
        nodes.count()
        val base = (scale * (dampDen - dampNum)) / (dampDen * sCount)
        val seedBase = when(col("__seed") === 1L, lit(base)).otherwise(lit(0L))
        Checkpointing.loop(
            nodes.select(col("id"),
              when(col("__seed") === 1L, lit(scale / sCount)).otherwise(lit(0L))
                .as("pr")),
            checkpointDir, iterations, AtCap.Return)(step = r => {
          val ranks = r.frame
          val incoming = ed
            .join(ranks.select(col("id").as("src"), col("pr")), "src")
            .select(col("dst").as("id"), expr("pr DIV outdeg").as("contrib"))
            .groupBy("id")
            .agg(sum(col("contrib")).as("inc"))
          val joined = nodes.join(incoming, Seq("id"), "left")
          if (redistributeDangling) {
            val dang = ranks
              .join(deg.select(col("src").as("id")), Seq("id"), "left_anti")
              .agg(coalesce(sum(col("pr")), lit(0L)).as("__dmass"))
            joined.crossJoin(broadcast(dang))
              .select(col("id"),
                (seedBase +
                  expr(s"($dampNum * (coalesce(inc, 0L) + (CASE WHEN " +
                    s"__seed = 1 THEN __dmass DIV $sCount ELSE 0 END)))" +
                    s" DIV $dampDen")).as("pr"))
          } else
            joined.select(col("id"),
              (seedBase + expr(s"($dampNum * coalesce(inc, 0L)) DIV $dampDen"))
                .as("pr"))
        })
      } finally { nodes.unpersist(); deg.unpersist(); ed.unpersist() }
    }
  }

  /** X152 — HITS hubs & authorities (Kleinberg, JACM 1999): the OTHER
    * canonical link-analysis fixed point beside [[pageRank]] — PageRank
    * answers "how endorsed is this node overall?"; HITS separates the
    * two roles a link graph mixes: a good HUB points at good
    * authorities, a good AUTHORITY is pointed at by good hubs. The pair
    * is what a crawl-curation pass wants when the seed question is
    * "which index/portal pages find content" vs "which content pages
    * are found" — roles PageRank's single score conflates.
    *
    * Update order is the classical one, STATED: each round computes
    * auth from the PREVIOUS round's hubs (a_raw(v) = Σ_{u→v} h(u)),
    * normalizes, then hubs from THIS round's auths
    * (h_raw(u) = Σ_{u→v} a(v)), normalizes. The integer contract is
    * [[pageRank]]'s: scaled longs, every step exact — with ONE stated
    * delta from Kleinberg: normalization is L1 (divide by the vector
    * SUM, floored — `x·scale DIV Σx`, the product carried in
    * DECIMAL(38,0) since x·scale can reach scale²) instead of L2,
    * whose square root is irrational and cannot be exact; per-round
    * normalization is a positive scalar either way, so the RANKING and
    * the fixed-point direction are identical — only the reported scale
    * differs. Init h₀ = scale DIV n on every node (the all-ones vector,
    * L1-normalized — round counts are part of the contract, so the
    * start is stated).
    *
    * The rescale's divisor is provably positive while edges exist:
    * `scale ≥ 1000·n` is REQUIRED, so the max entry of any normalized
    * vector is ≥ scale/n − 1 ≥ 999, and a vector's max entry belongs
    * to a node that aggregated over ≥ 1 edge — the next raw sum is
    * therefore ≥ 999, never 0 (the silent-underflow failure the float
    * formulation hides; integers surface it as a require, stated).
    * Sinks hold auth from their in-edges and hub 0; sources the
    * reverse; an isolated node (possible only via NULL-dropped rows)
    * holds 0/0.
    *
    * Scale shape: TWO persisted pre-partitioned edge copies — one by
    * src (the auth round's join side) and one by dst (the hub
    * round's) — so neither half-round reshuffles the edge set; ranks
    * stay node-sized; each half-round is one keyed join + one keyed
    * aggregation + one broadcast 1-row total; rounds are
    * Checkpointing-truncated (eager) so lineage stays flat. Output:
    * `(id, hub, auth)` — scaled-integer scores. */
  def hits(edges: DataFrame, iterations: Int, scale: Long = 1000000000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(scale >= 1000000L && scale <= Long.MaxValue / 2,
      s"scale must be in [1e6, Long.MaxValue/2], got $scale")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    withEdges(edges, mirror = false) { eBySrc =>
      // eByDst and nodes derive from the PERSISTED eBySrc, so the
      // canonicalizing distinct runs once for the three frames
      val eByDst = eBySrc.repartition(col("dst")).persist()
      val nodes = eBySrc.select(col("src").as("id"))
        .unionAll(eBySrc.select(col("dst").as("id")))
        .distinct()
        .persist()
      // per-node degrees, fixed across rounds: the L1 totals collapse to
      // Σ_v mass(v)·degree(v) (Σ_dst Σ_{src→dst} h[src] regroups by src),
      // so each round's total needs only this node-sized frame, not a
      // second edge join + aggregation inside the broadcast subtree
      val outDeg = eBySrc.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("__deg")).persist()
      val inDeg = eByDst.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("__deg")).persist()
      try {
        val n = nodes.count()
        require(n > 0, "hits needs at least one edge after null/dup removal")
        require(scale >= 1000L * n,
          s"scale $scale < 1000·n ($n nodes) — init mass would floor to " +
            "zero; raise scale")
        // floored L1 renormalization: positive operands, so the DECIMAL
        // remainder-subtract is the same floor DuckDB's // takes
        def renorm(raw: String, tot: String): String =
          s"""CAST(CASE WHEN $tot > 0 THEN
             |  (CAST(coalesce($raw, 0) AS DECIMAL(38,0)) * $scale
             |   - (CAST(coalesce($raw, 0) AS DECIMAL(38,0)) * $scale) % $tot)
             |  / $tot ELSE 0 END AS BIGINT)""".stripMargin
        // auth from the previous hubs: (id, a)
        def authHalf(hub: DataFrame): DataFrame = {
          val aRaw = eBySrc
            .join(hub.select(col("id").as("src"), col("h")), "src")
            .groupBy(col("dst").as("id")).agg(sum("h").as("__araw"))
          val aTot = hub.join(outDeg, "id")
            .agg(coalesce(sum(col("h").cast(d) * col("__deg")),
              lit(0).cast(d)).as("__asum"))
          nodes.join(aRaw, Seq("id"), "left")
            .crossJoin(broadcast(aTot))
            .select(col("id"), expr(renorm("__araw", "__asum")).as("a"))
        }
        // hubs from this round's auths, carrying them: (id, h, a)
        def hubHalf(auth: DataFrame): DataFrame = {
          val hRaw = eByDst
            .join(auth.select(col("id").as("dst"), col("a")), "dst")
            .groupBy(col("src").as("id")).agg(sum("a").as("__hraw"))
          val hTot = auth.join(inDeg, "id")
            .agg(coalesce(sum(col("a").cast(d) * col("__deg")),
              lit(0).cast(d)).as("__hsum"))
          auth.join(hRaw, Seq("id"), "left")
            .crossJoin(broadcast(hTot))
            .select(col("id"), expr(renorm("__hraw", "__hsum")).as("h"),
              col("a"))
        }
        // each half-round is one loop round: frames at even indices hold
        // hubs (index 0 the start), odd ones auths
        Checkpointing.loop(nodes.select(col("id"), lit(scale / n).as("h")),
            checkpointDir, 2 * iterations, AtCap.Return)(
          step = r => if (r.index % 2 == 0) authHalf(r.frame) else hubHalf(r.frame),
          result = _.frame.select(col("id"), col("h").as("hub"), col("a").as("auth")))
      } finally {
        nodes.unpersist()
        eByDst.unpersist()
        outDeg.unpersist()
        inDeg.unpersist()
      }
    }
  }

  /** X81 — exact triangle counting + local clustering coefficients over an
    * undirected edge list `(src, dst)` via degree ordering (Suri &
    * Vassilvitskii WWW'11, "Counting triangles and the curse of the last
    * reducer"; the same orientation underlies Latapy 2008's
    * compact-forward). Triangles are the primitive behind community
    * density, spam/bot subgraph detection, and graph-health profiling of
    * the link graphs X32 ranks.
    *
    * The naive plan — pair every node's neighbors — explodes on hubs: a
    * degree-d node emits d² wedges, and one celebrity key stalls the whole
    * stage (the titular last reducer). Orienting every edge from its
    * lower-(degree, id) endpoint to the higher one fixes the asymptote:
    * each triangle survives as exactly ONE wedge at its lowest-ordered
    * corner, and every node's ORIENTED out-degree is O(√m) regardless of
    * its raw degree, so wedge fan-out is bounded by m^1.5 total and no
    * single key can stall — the published bound, not a heuristic.
    *
    * Execution: canonicalize (drop NULLs/self-loops, collapse directions
    * and duplicates into `(u < v)` pairs), one incidence aggregation for
    * degrees, two node-keyed joins to orient, one self-join on the wedge
    * hub (both legs kept in (degree, id) order, so the closing edge is
    * oriented exactly `(leg1 → leg2)` and closure is a plain EQUI-join —
    * no OR-condition nested loop), and one corner-union aggregation back
    * to node granularity. Everything is keyed shuffles with map-side
    * combine; nothing touches the driver.
    *
    * Output: `(id, degree, tri, lcc_micro)` per node — raw degree,
    * triangles through the node, and the local clustering coefficient
    * `2·tri / (degree·(degree−1))` in integer micros (floor; 0 for
    * degree < 2). Global count = Σtri / 3. All arithmetic integer —
    * bit-identical under repartitioning and across engines. A bounded
    * probe refuses graphs whose max degree would overflow the micro
    * division (tri ≤ C(d,2), so d ≤ 3e6 keeps 2·tri·1e6 inside Long). */
  def triangleStats(edges: DataFrame): DataFrame = {
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      s"edge frame needs (src, dst) columns, got ${edges.columns.mkString(", ")}")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      // node-sized, read four times (the budget probe, both orient
      // joins, the final rollup join) — persist so the canonical-edge
      // distinct behind it runs once, not once per consumer
      .persist()
    // 2·tri·1e6 must stay inside Long: tri ≤ C(d,2) ⇒ d ≤ 3e6. One scalar
    // over the node-sized frame — the bounded probe, not a corpus scan.
    val dmax = deg.agg(coalesce(max(col("degree")), lit(0L))).collect()(0).getLong(0)
    require(dmax <= 3000000L,
      s"max degree $dmax exceeds the lcc fixed-point budget (3e6) — " +
        "count triangles at scale > 1e6 with a wider lcc scale")
    // orient: each edge leaves its lower-(degree, id) endpoint; carry the
    // head's (degree, id) so wedge legs can be ordered WITHOUT a re-join
    val ku = struct(col("du").as("d"), col("u").as("i"))
    val kv = struct(col("dv").as("d"), col("v").as("i"))
    val o = e
      .join(deg.select(col("id").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("degree").as("dv")), "v")
      .select(
        when(ku < kv, col("u")).otherwise(col("v")).as("s"),
        when(ku < kv, kv).otherwise(ku).as("t"))
      // edge-sized, read three times (both wedge legs and the closing
      // side) — without the cut the canonicalize+orient subtree
      // re-evaluates once per consumer. §5 scale note: localCheckpoint
      // blocks live on executors and are NOT recomputable — an executor
      // loss mid-query fails the query (acceptable inside one bounded
      // query; a multi-node deployment that can't retry the query should
      // route this pin through Checkpointing.truncate with a reliable
      // dir, the [[graft.core.Checkpointing]] trade).
      .localCheckpoint(true)
    // wedges at the lowest-ordered corner, legs in (degree, id) order —
    // the closing edge, if present, is oriented (x → y) by construction
    val wedges = o.as("a").join(o.as("b"),
        col("a.s") === col("b.s") && col("a.t") < col("b.t"))
      .select(col("a.s").as("hub"),
        col("a.t").getField("i").as("x"), col("b.t").getField("i").as("y"))
    val closing = o.select(col("s").as("x"), col("t").getField("i").as("y"))
    val tri = wedges.join(closing, Seq("x", "y"))
    val perNode = tri.select(col("hub").as("id"))
      .unionAll(tri.select(col("x").as("id")))
      .unionAll(tri.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("degree") >= 2,
          expr("(2 * coalesce(tri, 0L) * 1000000) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** X105 — multi-source BFS levels: exact hop distance from the nearest
    * of a SOURCE SET, the unweighted-shortest-path member of this family
    * (X32 ranks by stationary mass; X40's components answer plain
    * reachability; this answers HOW FAR) — link-distance-from-seed-hosts
    * as a crawl-frontier quality signal, blast-radius analysis over
    * dependency graphs, degrees-of-separation features.
    *
    * Level-synchronous frontier expansion — the textbook distributed
    * BFS: round k joins the level-(k) frontier against the edge list,
    * anti-joins the visited set, and what survives IS level k+1. Each
    * node settles at its FIRST discovery, which over unweighted edges is
    * provably its minimum hop count (every edge adds exactly one hop, so
    * level-order discovery is distance order — Dijkstra degenerates to
    * BFS at unit weights). Results are exact integers; no tie-breaking
    * exists to diverge on, so determinism is free.
    *
    * Scale shape: edges canonicalize once (NULL/dup drop, optional
    * undirected mirroring) and persist PRE-PARTITIONED on `src`, so each
    * round's frontier join reuses the layout and only node-sized frames
    * shuffle; per round = one keyed join + distinct + one anti-join
    * against visited, lineage-truncated ([[graft.core.Checkpointing]],
    * same knob as [[pageRank]]) so round k never replays rounds 1..k−1.
    * The loop stops at the first EMPTY frontier (a row count folded into
    * the round's truncation — the BFS termination test every
    * implementation needs) or at `maxDepth`, the hard cap that bounds
    * the round count on adversarial diameters. Unreached nodes are
    * ABSENT from the output ("not reachable" ≠ "distance 0").
    * Output: `(id, dist)`. */
  def bfsLevels(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      undirected: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 200,
      s"maxDepth must be in [1, 200], got $maxDepth")
    require(sources.columns.contains("id"),
      s"source frame needs an (id) column, got ${sources.columns.mkString(", ")}")
    withEdges(edges, mirror = undirected) { e =>
      // Levels buffer: each level is truncated ONCE and `visited` is a
      // LAZY union of the materialized levels — re-truncating the
      // accumulated union every round would re-write O(depth²) bytes.
      Checkpointing.loop(
          sources.select(col("id").cast("long").as("id"))
            .filter(col("id").isNotNull).distinct()
            .select(col("id"), lit(0).as("dist")),
          checkpointDir, maxDepth, AtCap.Return, Seq(count(lit(1))),
          keepLevels = true)(
        step = r => {
          require(r.index > 0 || r.probe.getLong(0) > 0L,
            "bfsLevels: empty source set")
          r.frame.select(col("id").as("src"))
            .join(e, "src")
            .select(col("dst").as("id")).distinct()
            .join(r.levels.reduce(_ unionAll _).select("id"), Seq("id"),
              "left_anti")
            .select(col("id"), lit(r.index + 1).as("dist"))
        },
        stop = (_, level) => level.getLong(0) == 0L,
        result = _.levels.reduce(_ unionAll _))
    }
  }

  /** X117 — weighted single-source shortest paths: [[bfsLevels]]'s loop
    * with MIN-PLUS relaxation instead of an anti-join — the weighted
    * distance the graph family was missing (latency-weighted dependency
    * graphs, cost-weighted link graphs; X32 ranks mass, X40 reaches,
    * X105 counts hops, X81 measures density — nothing measured COST).
    * Synchronous delta-stepping-degenerate Bellman-Ford: round k joins
    * the frontier (nodes whose distance improved last round) against the
    * edges, takes the per-destination MIN of dist+w, and keeps only
    * strict improvements — after k rounds every node holds the exact
    * minimum over paths of ≤ k edges (the textbook synchronous-
    * relaxation invariant), so `maxIters` is both the round cap and a
    * well-defined semantic ("cheapest route within N legs"); the loop
    * also stops at the first no-improvement round, which is full
    * Dijkstra-equal convergence. Deterministic because min is.
    *
    * Negative weights are REFUSED (a negative cycle makes "shortest"
    * undefined and min-plus non-terminating; the detection variant is a
    * different operator), as are weights past 1e15 (maxIters·1e15 keeps
    * every dist+w inside Long). Parallel edges collapse to their MIN
    * weight up front (only the cheapest parallel edge can ever win a
    * relaxation — edge-sized work saved before the first join).
    *
    * Scale shape (the [[bfsLevels]] story): edges canonicalize once and
    * persist PRE-PARTITIONED on `src`; each round is one keyed join +
    * one per-destination partial-min aggregation + one full-outer merge
    * of two NODE-sized frames, lineage-truncated via the
    * [[graft.core.Checkpointing]] knob. Unreached nodes are ABSENT
    * ("not reachable" ≠ "distance 0"). Output: `(id, dist)`. */
  def sssp(edges: DataFrame, sources: DataFrame, maxIters: Int,
      undirected: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters >= 1 && maxIters <= 200,
      s"maxIters must be in [1, 200], got $maxIters")
    Seq("src", "dst", "w").foreach(c => require(edges.columns.contains(c),
      s"edge frame needs (src, dst, w) columns, got ${edges.columns.mkString(", ")}"))
    require(sources.columns.contains("id"),
      s"source frame needs an (id) column, got ${sources.columns.mkString(", ")}")
    val fwd = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
    val bad = fwd.filter(col("w") < 0 || col("w") > 1000000000000000L)
      .limit(1).collect()
    require(bad.isEmpty,
      s"edge weight ${bad.headOption.map(_.get(2)).orNull} outside " +
        "[0, 1e15] — negative cost makes shortest-path undefined; " +
        "larger weights break the Long distance budget")
    val e = (if (undirected)
        fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"),
          col("w")))
      else fwd)
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .repartition(col("src"))
      .persist()
    try {
      Checkpointing.loop(
          sources.select(col("id").cast("long").as("id"))
            .filter(col("id").isNotNull).distinct()
            .select(col("id"), lit(0L).as("dist"), lit(true).as("__imp")),
          checkpointDir, maxIters, AtCap.Return, improvedCount)(
        step = r => {
          require(r.index > 0 || r.probe.getLong(0) > 0L,
            "sssp: empty source set")
          relax(e, r.frame)
        },
        stop = (_, improved) => improved.getLong(0) == 0L,
        result = _.frame.select("id", "dist"))
    } finally e.unpersist()
  }

  /** One synchronous min-plus round over `(id, dist, __imp)` frames: the
    * nodes that improved last round relax their out-edges, each node
    * keeps the minimum, `__imp` marks strict improvements and `__old` the
    * distance an improvement replaced. */
  private def relax(e: DataFrame, d: DataFrame): DataFrame = {
    val cand = d.filter(col("__imp")).select(col("id").as("src"), col("dist"))
      .join(e, "src")
      .groupBy(col("dst").as("id"))
      .agg(min(col("dist") + col("w")).as("cd"))
    d.select("id", "dist").join(cand, Seq("id"), "full")
      .select(col("id"),
        least(coalesce(col("dist"), lit(Long.MaxValue)),
          coalesce(col("cd"), lit(Long.MaxValue))).as("dist"),
        (col("cd").isNotNull &&
          (col("dist").isNull || col("cd") < col("dist"))).as("__imp"),
        col("dist").as("__old"))
  }

  private val improvedCount = Seq(count(when(col("__imp"), lit(1))))

  /** The canonical shortest-path-TREE parent for every reached node:
    * given final distances, `parent(v) = min{ u : dist(u) + w(u,v) =
    * dist(v) }` over the canonicalized edges — the smallest-id
    * predecessor among cost-TIGHT in-edges, a pure function of the
    * distance table (independent of relaxation ORDER, which is what
    * makes it engine-replayable: the oracle re-derives every parent
    * from its own distance replay with one join). Nodes at distance 0
    * (the sources) carry NULL parent by definition — with zero-weight
    * edges a source could have a tight in-edge, and a tree rooted at
    * the source set must not. Under a BINDING iteration cap a reached
    * node can also have NULL parent: its best known prefix spent the
    * full leg budget, so no in-neighbor's capped distance is tight —
    * "route known, predecessor not provable within the cap", never a
    * fabricated edge. */
  private def withParents(dist: DataFrame, e: DataFrame): DataFrame =
    dist.join(
      e.join(dist.select(col("id").as("src"), col("dist").as("__ds")), "src")
        .join(dist.select(col("id").as("dst"), col("dist").as("__dd")), "dst")
        .filter(col("__dd") > 0 && col("__ds") + col("w") === col("__dd"))
        .groupBy(col("dst").as("id")).agg(min(col("src")).as("parent")),
      Seq("id"), "left")
      .select(col("id"), col("dist"), col("parent"))

  /** [[sssp]] with PATH reconstruction: emits `(id, dist, parent)` where
    * `parent` is the canonical tree predecessor (see [[withParents]] for
    * the tie-break and NULL rules) — "what IS the cheapest route", the
    * dependency-graph / crawl-provenance question distances alone can't
    * answer. The tree is node-sized; any individual route replays with
    * the bounded walk [[walkPath]] or a ≤`maxIters`-step iterative join.
    *
    * Scale shape: the [[sssp]] loop plus ONE post-pass — two keyed joins
    * of the edge frame against the node-sized distance table and a
    * per-destination min aggregation; edge-sized, no new scaling class. */
  def ssspPaths(edges: DataFrame, sources: DataFrame, maxIters: Int,
      undirected: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val dist = sssp(edges, sources, maxIters, undirected, checkpointDir)
    val fwd = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
    val e = (if (undirected)
        fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"),
          col("w")))
      else fwd)
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
    withParents(dist, e)
  }

  /** [[bfsLevels]] with PATH reconstruction — BFS is min-plus over unit
    * weights, so the canonical parent rule specializes to
    * `parent(v) = min{ u : dist(u) + 1 = dist(v) }` (smallest-id
    * predecessor one level up). Emits `(id, dist, parent)`; sources
    * carry NULL parent. Same post-pass shape as [[ssspPaths]]. */
  def bfsPaths(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      undirected: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val dist = bfsLevels(edges, sources, maxDepth, undirected, checkpointDir)
      .select(col("id"), col("dist").cast("long").as("dist"))
    withParents(dist, canonicalEdges(edges, mirror = undirected)
      .select(col("src"), col("dst"), lit(1L).as("w")))
  }

  /** X144 — negative-cycle detection, the variant [[sssp]]'s doc defers
    * to ("the detection variant is a different operator"): run the SAME
    * pre-partitioned synchronous min-plus loop with negative weights
    * ADMITTED for the textbook Bellman-Ford budget (|V|−1 rounds, or
    * until a no-improvement round — full convergence — arrives first),
    * then run ONE more relaxation; any node whose distance still
    * strictly improves at that WITNESS round is on or reachable from a
    * negative cycle reachable from the sources (the classical
    * certificate). Feed graphs with credits/refunds — ledger nets,
    * arbitrage webs, cost models with rebates — hit this.
    *
    * Output contract (deterministic, engine-replayable): one row per
    * witness node — `(id, dist_stable, dist_witness)` with dist_stable
    * the exact min cost over walks of ≤ |V|−1 edges and dist_witness
    * the strictly better ≤ |V|-edge walk cost; an EMPTY frame is the
    * convergence certificate "no negative cycle reachable from the
    * sources" (if the loop converges early the fixpoint argument makes
    * the witness round a no-op — any replay round count ≥ the
    * convergence round reproduces the stable table bit for bit, the
    * X136 oracle stance). An oracle replays the bounded rounds with one
    * recursive CTE over the edge frame plus zero-weight self-loops
    * (carry rides the one allowed CTE reference — the q298 trick;
    * self-loops cannot change a min over ≤ k-edge walks because that
    * min is already monotone in k).
    *
    * DIRECTED only — an undirected negative edge u—v is trivially the
    * negative cycle u→v→u, so the undirected face would answer a
    * different (degenerate) question. Weights in [−1e15, 1e15]; with
    * maxIters ≤ 200 every partial sum stays within ~2e17, inside Long.
    * REFUSED: |V|−1 > maxIters (the certificate needs the full
    * Bellman-Ford budget — a capped run that hasn't converged can
    * neither name witnesses nor certify their absence).
    *
    * Scale shape = [[sssp]] verbatim: edges collapse parallel minima
    * once and persist PRE-PARTITIONED on src; each round one keyed
    * join from the improved-frontier (node-sized) + per-destination
    * partial min + full-outer merge, Checkpointing-truncated; the
    * witness round is one more of the same. |V| is probed by one
    * distinct count BEFORE any loop work, so the refusal fires first. */
  def negativeCycleWitnesses(edges: DataFrame, sources: DataFrame,
      maxIters: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters >= 1 && maxIters <= 200,
      s"maxIters must be in [1, 200], got $maxIters")
    Seq("src", "dst", "w").foreach(c => require(edges.columns.contains(c),
      s"edge frame needs (src, dst, w) columns, got ${edges.columns.mkString(", ")}"))
    require(sources.columns.contains("id"),
      s"source frame needs an (id) column, got ${sources.columns.mkString(", ")}")
    val fwd = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
    val bad = fwd.filter(abs(col("w")) > 1000000000000000L)
      .limit(1).collect()
    require(bad.isEmpty,
      s"edge weight ${bad.headOption.map(_.get(2)).orNull} outside " +
        "[-1e15, 1e15] — larger magnitudes break the Long distance budget")
    val e = fwd.groupBy("src", "dst").agg(min(col("w")).as("w"))
      .repartition(col("src"))
      .persist()
    try {
      val src = sources.select(col("id").cast("long").as("id"))
        .filter(col("id").isNotNull).distinct()
      val nNodes = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .unionAll(src)
        .distinct().count()
      require(nNodes >= 1, "negativeCycleWitnesses: empty graph")
      require(nNodes - 1 <= maxIters,
        s"$nNodes nodes need ${nNodes - 1} Bellman-Ford rounds > " +
          s"maxIters=$maxIters — cannot certify within the budget; " +
          "REFUSED rather than a silent partial verdict")
      // |V|−1 Bellman-Ford rounds, then the witness round. A round that
      // improves nothing is convergence: its empty witness set is the
      // certificate, and no later round could change it.
      Checkpointing.loop(
          src.select(col("id"), lit(0L).as("dist"), lit(true).as("__imp")),
          checkpointDir, nNodes.toInt, AtCap.Return, improvedCount)(
        step = r => {
          require(r.index > 0 || r.probe.getLong(0) > 0L,
            "negativeCycleWitnesses: empty source set")
          relax(e, r.frame)
        },
        stop = (_, improved) => improved.getLong(0) == 0L,
        result = _.frame.filter(col("__imp") && col("__old").isNotNull)
          .select(col("id"), col("__old").as("dist_stable"),
            col("dist").as("dist_witness")))
    } finally e.unpersist()
  }

  /** X135 — k-core extraction (Seidman 1983): the unique MAXIMAL
    * subgraph in which every node has degree ≥ k — the standard
    * link-graph pruning primitive (bot/spam rings and drive-by pages
    * fall out of low cores; community detection and X32/X81 analyses
    * run on the core that remains). Computed by the classical peeling
    * fixpoint: repeatedly drop nodes whose degree IN THE SURVIVING
    * subgraph is < k. The result is order-independent (the k-core is
    * unique — peeling in any order converges to it), so any engine
    * replays it as a shrinking fixpoint; ties, partitioning, and retry
    * order cannot move the answer.
    *
    * Graph semantics: UNDIRECTED degree (edges mirror internally);
    * self-loops and duplicate/NULL edges drop first (a self-loop would
    * let a node keep itself alive). Output: `(id, degree)` — the
    * node's degree inside the final core; an empty core is an empty
    * frame ("no such subgraph", never a fabricated row).
    *
    * Scale shape (the [[bfsLevels]] loop story): edges canonicalize
    * once and persist PRE-PARTITIONED on `src`; each round is one
    * map-side-combinable degree aggregation + one broadcast-size-
    * friendly semi-join of the edge frame against the surviving node
    * set, lineage-truncated via [[graft.core.Checkpointing]]; the loop
    * stops at the first round that drops nothing (one node-sized count
    * probe per round) or at `maxIters` (REFUSED past it — a peel that
    * deep means k is mis-chosen for the graph). Rounds are bounded by
    * the peel depth, ≤ the graph's degeneracy ordering length. */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k must be in [1, 1e6], got $k")
    require(maxIters >= 1 && maxIters <= 1000,
      s"maxIters must be in [1, 1000], got $maxIters")
    withEdges(edges, mirror = true, selfLoops = false) { e =>
      // a peel round that keeps every node is the fixpoint; one that keeps
      // none is the empty core
      Checkpointing.loop(e.select(col("src").as("id")).distinct(),
          checkpointDir, maxIters,
          AtCap.Refuse(() => new IllegalArgumentException(
            s"k-core peel exceeded $maxIters rounds — k=$k is mis-chosen " +
              "for this graph's degeneracy; raise maxIters deliberately")),
          Seq(count(lit(1))))(
        step = r => e
          .join(r.frame.select(col("id").as("src")), "src")
          .join(r.frame.select(col("id").as("dst")), "dst")
          .groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("degree"))
          .filter(col("degree") >= k),
        stop = (live, kept) =>
          kept.getLong(0) == live.getLong(0) || kept.getLong(0) == 0L)
    }
  }

  /** X136 — deterministic label-propagation community detection
    * (Raghavan, Albert & Kumara 2007, made order-independent): the
    * operator that PARTITIONS the link graph — the analysis [[kCore]]
    * pre-filters for. Synchronous rounds; every node adopts the most
    * frequent label in its closed neighborhood (its neighbors PLUS
    * itself — the self-vote is the standard damping that keeps
    * synchronous updates from flip-flopping on symmetric structures),
    * ties broken to the SMALLEST label. Because every round is a pure
    * function of the previous assignment — no visit order, no random
    * tie-break — the trajectory is fully deterministic and any engine
    * replays it round for round (the oracle's recursive CTE). Louvain is
    * deliberately REFUSED from this engine: its result depends on node
    * visit order, so no cross-engine oracle can replay it.
    *
    * Graph semantics: UNDIRECTED (edges mirror internally); self-loops
    * and duplicate/NULL edges drop first (the self-vote is added once,
    * structurally, so a data self-loop must not double a node's vote).
    * Convergence = a round that changes NO label (the assignment is then
    * a fixpoint: re-running any number of extra rounds reproduces it —
    * what lets a replay iterate a fixed count ≥ the convergence round).
    * A non-converged run at `maxIters` is REFUSED, never returned: a
    * 2-cycle oscillation (possible on bipartite-ish graphs even with the
    * self-vote) would otherwise masquerade as communities.
    *
    * Scale shape (the [[kCore]] loop story): edges canonicalize once —
    * mirrored, deduped, self-vote rows appended — and persist
    * PRE-PARTITIONED on `dst` (each round joins labels BY dst, so the
    * big frame never re-shuffles); each round is one keyed join of the
    * node-sized label frame against the edge frame, one
    * map-side-combined (node, label) count, one per-node min-struct
    * aggregation (no window — one Exchange), and one node-sized change
    * probe, lineage-truncated via [[graft.core.Checkpointing]]. Output:
    * `(id, label)` — label is the community's representative node id. */
  def labelPropagation(edges: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters >= 1 && maxIters <= 1000,
      s"maxIters must be in [1, 1000], got $maxIters")
    val mirrored = canonicalEdges(edges, mirror = true, selfLoops = false)
    val nodes = mirrored.select(col("src").as("id")).distinct()
    // closed neighborhood: the self-vote rides as one (v, v) edge row,
    // so each round references the label frame exactly ONCE (the same
    // single-reference shape the oracle's recursive CTE needs)
    val e = mirrored
      .unionAll(nodes.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst"))
      .persist()
    try {
      Checkpointing.loop(
          nodes.select(col("id"), col("id").as("label"), lit(true).as("__chg")),
          checkpointDir, maxIters,
          AtCap.Refuse(() => new IllegalArgumentException(
            s"label propagation did not converge in $maxIters rounds — " +
              "synchronous updates are oscillating on this graph; raise " +
              "maxIters deliberately or pre-filter with kCore")),
          Seq(count(when(col("__chg"), lit(1)))))(
        // the changed flag rides the round frame itself (one node-sized
        // join against the previous labels), so the probe needs no join
        step = r => e
          .join(r.frame.select(col("id").as("dst"), col("label").as("__nl")),
            "dst")
          .groupBy(col("src").as("id"), col("__nl"))
          .agg(count(lit(1)).as("__c"))
          // most frequent label, ties to the smallest: min on the
          // struct (−count, label) needs no window Exchange
          .groupBy("id")
          .agg(min(struct((-col("__c")).as("__nc"),
            col("__nl").as("l"))).as("__m"))
          .select(col("id"), col("__m.l").as("label"))
          .join(r.frame.select(col("id"), col("label").as("__old")), "id")
          .select(col("id"), col("label"),
            (col("label") =!= col("__old")).as("__chg")),
        stop = (_, changed) => changed.getLong(0) == 0L,
        result = _.frame.select("id", "label"))
    } finally e.unpersist()
  }

  /** Reconstruct ONE route from a `(id, dist, parent)` tree: the
    * source-to-`target` node sequence, by walking parents driver-side —
    * each hop is one keyed lookup against the (persisted) tree frame,
    * `maxHops`-bounded (routes are ≤ the loop's iteration cap by
    * construction; the bound refuses a corrupted tree's cycle instead
    * of spinning). Returns empty when `target` is unreached. A node
    * with NULL parent at dist > 0 (the capped-prefix case, see
    * [[withParents]]) yields the partial suffix it can prove —
    * distinguishable from a full route because its head is not at
    * dist 0. Batch reconstruction of MANY routes belongs in an
    * iterative self-join, not repeated walks. */
  def walkPath(paths: DataFrame, target: Long, maxHops: Int = 200): Seq[Long] = {
    require(maxHops >= 1 && maxHops <= 10000,
      s"maxHops must be in [1, 10000], got $maxHops")
    val t = paths.select(col("id").cast("long").as("id"), col("dist"),
      col("parent").cast("long").as("parent")).persist()
    try {
      var route = List.empty[Long]
      var cur: Option[Long] = Some(target)
      var hops = 0
      while (cur.isDefined && hops <= maxHops) {
        val row = t.filter(col("id") === cur.get).limit(1).collect()
        if (row.isEmpty) {
          // unreached target: no route at all (only valid at the head)
          if (route.nonEmpty) sys.error(
            s"walkPath: parent ${cur.get} missing from the tree — " +
              "corrupted paths frame")
          cur = None
        } else {
          route = cur.get :: route
          cur = if (row(0).isNullAt(2)) None else Some(row(0).getLong(2))
          hops += 1
        }
      }
      // refuse only TRUNCATION (the walk left off mid-route), not a
      // fully terminated route that happens to use the whole budget: the
      // loop admits maxHops+1 node appends, and a legitimate route of
      // exactly that length exits with cur == None
      require(cur.isEmpty,
        s"walkPath exceeded $maxHops hops — cycle in the parent tree?")
      route
    } finally t.unpersist()
  }

  /** X137 — BATCH path reconstruction: assemble routes for a whole
    * target FRAME from one `(id, dist, parent)` tree — the
    * crawl-provenance / dependency-report question ("show me the route
    * for every one of THESE nodes") that [[walkPath]]'s one-route driver
    * walk cannot answer at scale (its own doc defers exactly here). The
    * iterative self-join [[walkPath]]'s doc promises: every round joins
    * the route frame's live cursors against the tree ONCE and prepends
    * the cursor to the route — all targets advance one hop per round, so
    * rounds are bounded by the DEEPEST route, not the target count.
    *
    * Semantics = [[walkPath]]'s exactly, row-per-target: the route is
    * the source→target node sequence; an unreached target (absent from
    * the tree) emits `route_len = 0, route = NULL` ("no route at all",
    * kept as a row so the report is total over the asked set); a NULL
    * parent at dist > 0 (the capped-prefix case, see [[withParents]])
    * yields the partial suffix it can prove; a parent pointing OUTSIDE
    * the tree refuses (corrupted frame); a walk still live past
    * `maxHops` refuses (cycle backstop — termination within the budget
    * is never refused). Routes emit as `'->'`-joined strings (plus the
    * node count) so the frame is engine-portable.
    *
    * Scale shape: the tree persists node-sized and PRE-PARTITIONED on
    * id; each round is one keyed join of the TARGET-sized route frame
    * against it plus one probe aggregate (corruption, liveness),
    * lineage-truncated via [[graft.core.Checkpointing]]; route arrays
    * are ≤ maxHops+1 longs. Never edge-sized, never all-routes-at-once
    * in the driver. Output: `(target, route_len, route)`. */
  def walkPaths(paths: DataFrame, targets: DataFrame, maxHops: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 10000,
      s"maxHops must be in [1, 10000], got $maxHops")
    require(targets.columns.contains("id"),
      s"target frame needs an (id) column, got ${targets.columns.mkString(", ")}")
    val tree = paths.select(col("id").cast("long").as("__tid"),
        col("parent").cast("long").as("__par"))
      .repartition(col("__tid"))
      .persist()
    try {
      // A duplicated id row would fan out every per-round join and emit
      // duplicate (possibly divergent) routes per target — the same
      // corrupted-frame stance as the mid-route probe below, checked
      // once up front (one aggregation over the node-sized tree).
      val dup = tree.groupBy(col("__tid")).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"walkPaths: node ${dup.headOption.map(_.get(0))} appears more " +
          "than once in the paths frame — corrupted paths frame")
      // A LIVE cursor the tree doesn't know is fine at the HEAD
      // (unreached target) but corruption mid-route — the walkPath
      // contract; finished rows (NULL cursor) also join nothing and
      // must not trip this. The verdict rides the round frame as a flag
      // and the probe reads it with the any-cursor-live flag.
      Checkpointing.loop(
          targets.select(col("id").cast("long").as("target"))
            .filter(col("target").isNotNull).distinct()
            .withColumn("__cur", col("target"))
            .withColumn("__route", array().cast("array<bigint>"))
            .withColumn("__bad", lit(false))
            .withColumn("__prev", lit(null).cast("long")),
          checkpointDir, maxHops + 1,
          AtCap.Refuse(() => new IllegalArgumentException(
            s"walkPaths exceeded $maxHops hops — cycle in the parent tree?")),
          Seq(max(when(col("__bad"), struct(col("__prev")))).as("__badPrev"),
            max(when(col("__cur").isNotNull, lit(1)).otherwise(lit(0)))
              .as("__live")))(
        step = r => r.frame
          .join(tree, r.frame("__cur") === tree("__tid"), "left")
          .select(col("target"),
            when(col("__tid").isNotNull, col("__par")).as("__cur"),
            when(col("__tid").isNotNull,
                concat(array(col("__cur")), col("__route")))
              .otherwise(col("__route")).as("__route"),
            (col("__cur").isNotNull && col("__tid").isNull &&
              size(col("__route")) > 0).as("__bad"),
            col("__cur").as("__prev")),
        stop = (_, probe) => {
          require(probe.isNullAt(0),
            s"walkPaths: parent ${Option(probe.getStruct(0)).map(_.get(0))} " +
              "missing from the tree — corrupted paths frame")
          probe.isNullAt(1) || probe.getInt(1) == 0
        },
        result = _.frame.select(col("target"),
          size(col("__route")).cast("long").as("route_len"),
          when(size(col("__route")) > 0,
            concat_ws("->", col("__route"))).as("route")))
    } finally tree.unpersist()
  }

  /** X169 — per-seed harmonic centrality (Boldi & Vigna, "Axioms for
    * Centrality" 2014 — the closeness variant that handles
    * disconnection correctly, which is why modern graph stacks report
    * it): H(s) = Σ_{v ≠ s} 1/d(s, v), unreachable nodes contributing
    * exactly 0 — "how close is this seed to EVERYTHING?", the
    * crawl-hub / influence question [[pageRank]]'s stationary mass and
    * [[bfsLevels]]' nearest-seed distance don't answer. Computed
    * EXACTLY for a bounded SEED SET (the operational shape: score
    * candidate hub pages, compare yesterday's hubs to today's — global
    * all-pairs centrality is a different, quadratic problem and is NOT
    * this operator; maxSeeds REFUSES the misuse).
    *
    * Per-seed level-synchronous BFS run as ONE loop over (seed, node)
    * keyed frames — the [[bfsLevels]] rounds with the seed carried in
    * the key, so s seeds cost s× the frontier size, never s separate
    * jobs. Exactness: distances are exact hop counts; the centrality
    * floors ONCE PER DISTANCE — `Σ_d count_d·(1e6 DIV d)` (the term
    * depends only on d, so per-distance flooring IS per-node flooring,
    * stated) — and sums ride exact integers.
    *
    * Rules, each STATED: more than `maxSeeds` seeds REFUSES (the
    * frontier is seeds×nodes sized — score candidates, not the
    * corpus); NULL/duplicate seeds collapse; seeds absent from the
    * edge set are legal (n_reached 0, centrality 0 — an isolated
    * candidate scores zero, it doesn't vanish); `maxDepth` bounds the
    * rounds — a binding cap means "centrality within k hops", the
    * stated truncated-horizon semantic (terms beyond the cap are the
    * SMALLEST, so truncation is conservative).
    *
    * Scale shape: edges canonicalize once, PRE-PARTITIONED on src;
    * per round one keyed join + distinct + one (seed,id) anti-join of
    * seeds×frontier-sized frames, Checkpointing-truncated; one
    * seed-keyed rollup at the end. Output: `(seed, n_reached,
    * harmonic_micro)`. */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int = 50, undirected: Boolean = false,
      maxSeeds: Int = 1000,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 200,
      s"maxDepth must be in [1, 200], got $maxDepth")
    require(maxSeeds >= 1 && maxSeeds <= 100000,
      s"maxSeeds must be in [1, 1e5], got $maxSeeds")
    require(seeds.columns.contains("id"),
      s"seed frame needs an (id) column, got ${seeds.columns.mkString(", ")}")
    withEdges(edges, mirror = undirected) { e =>
      val seedFrame = seeds.select(col("id").cast("long").as("seed"))
        .filter(col("seed").isNotNull).distinct()
        .persist()
      try {
        val nSeeds = seedFrame.count()
        require(nSeeds >= 1, "harmonicCentrality: empty seed set")
        require(nSeeds <= maxSeeds,
          s"harmonicCentrality: $nSeeds seeds > $maxSeeds — the " +
            "frontier is seeds×nodes sized; score candidate hubs, not " +
            "the corpus (all-pairs centrality is a different problem)")
        // Levels buffer (the bfsLevels stance): `visited` is a LAZY union
        // of the levels, each truncated once.
        Checkpointing.loop(
            seedFrame.select(col("seed"), col("seed").as("id"),
              lit(0).as("dist")),
            checkpointDir, maxDepth, AtCap.Return, Seq(count(lit(1))),
            keepLevels = true, truncateResult = true)(
          step = r => r.frame.select(col("seed"), col("id").as("src"))
            .join(e, "src")
            .select(col("seed"), col("dst").as("id")).distinct()
            .join(r.levels.reduce(_ unionAll _).select("seed", "id"),
              Seq("seed", "id"), "left_anti")
            .select(col("seed"), col("id"), lit(r.index + 1).as("dist")),
          stop = (_, level) => level.getLong(0) == 0L,
          result = r => seedFrame.join(
              r.levels.reduce(_ unionAll _).filter(col("dist") > 0)
                .groupBy(col("seed"), col("dist"))
                .agg(count(lit(1)).as("__c"))
                .groupBy("seed")
                .agg(sum(col("__c")).as("n_reached"),
                  sum(col("__c") * expr("1000000 DIV dist"))
                    .as("harmonic_micro")),
              Seq("seed"), "left")
            .select(col("seed"),
              coalesce(col("n_reached"), lit(0L)).as("n_reached"),
              coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro")))
      } finally seedFrame.unpersist()
    }
  }

  /** X176 — SAMPLED betweenness centrality (Brandes, J. Math. Soc.
    * 2001, restricted to a bounded source set — the k-source sampled
    * form of Brandes & Pich 2007): the BROKERAGE readout the kit
    * lacked — [[pageRank]] scores mass, [[hits]] roles, [[kCore]]
    * density, [[harmonicCentrality]] closeness; betweenness answers
    * "which node do the shortest paths FUNNEL through?" (the
    * bottleneck/cut-vertex question). Exact Brandes is O(V·E) and
    * refused territory at corpus scale; the standard published
    * estimator sums the Brandes dependency δ_s(v) = Σ_{w≠s,v}
    * σ_sv/σ_sw·(1+δ_s(w)) over a CALLER-CHOSEN bounded source set
    * (maxSeeds-refused — score against chosen sources, the
    * [[harmonicCentrality]] stance; the caller scales by n/k if an
    * absolute estimate is wanted, stated).
    *
    * Both passes ride the X169 level-synchronous loop: FORWARD, the
    * BFS rounds carry exact integer path counts σ (the sum of
    * predecessor σ per level — σ is exact, never approximated;
    * a post-pass probe REFUSES σ > 1e15, the DECIMAL(38) headroom for
    * the backward products); BACKWARD, dependencies accumulate from
    * the deepest level up, each term ONE stated floor over exact
    * integers — `term = (σ_v·(1e6 + δ_w)) DIV σ_w` (all operands
    * non-negative; δ in micros) — summed exactly per (seed, node) and
    * finally per node over seeds.
    *
    * Rules, each STATED: seeds dedupe, NULL seeds drop, empty seed set
    * REFUSES; `maxDepth` bounds BOTH passes — a binding cap means
    * "betweenness over paths of ≤ k hops", the truncated-horizon
    * semantic; the seed's own position (dist 0) never scores (Brandes
    * excludes endpoints); nodes reached but brokering nothing report
    * EXPLICIT 0 (a leaf scoring zero is a finding, not a missing row).
    *
    * Scale shape: edges canonicalize once, PRE-PARTITIONED on src;
    * forward = the X169 rounds with one extra σ-sum aggregation;
    * backward = one keyed join + one (seed, node) aggregation per
    * LEVEL (≤ maxDepth rounds), frames seeds×frontier-sized,
    * Checkpointing-truncated; one node-keyed rollup at the end.
    * Output: `(id, betweenness_micro)` — every non-seed-position node
    * reached by some seed, 0 rows included. */
  def betweennessSampled(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int = 50, undirected: Boolean = false,
      maxSeeds: Int = 1000,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 200,
      s"maxDepth must be in [1, 200], got $maxDepth")
    require(maxSeeds >= 1 && maxSeeds <= 100000,
      s"maxSeeds must be in [1, 1e5], got $maxSeeds")
    require(seeds.columns.contains("id"),
      s"seed frame needs an (id) column, got ${seeds.columns.mkString(", ")}")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    withEdges(edges, mirror = undirected) { e =>
      val seedFrame = seeds.select(col("id").cast("long").as("seed"))
        .filter(col("seed").isNotNull).distinct()
        .persist()
      try {
        val nSeeds = seedFrame.count()
        require(nSeeds >= 1, "betweennessSampled: empty seed set")
        require(nSeeds <= maxSeeds,
          s"betweennessSampled: $nSeeds seeds > $maxSeeds — the " +
            "frontier is seeds×nodes sized; sample sources, don't " +
            "enumerate them (exact all-pairs Brandes is O(V·E) and a " +
            "different operator)")
        val sigmaCap = lit(1000000000000000L).cast(d38)
        // FORWARD: (seed, id, dist, sigma) — σ exact integer path counts,
        // levels buffered as in bfsLevels. The σ-budget probe rides the
        // truncation with the exhaustion test.
        Checkpointing.loop(
            seedFrame.select(col("seed"), col("seed").as("id"),
              lit(0).as("dist"), lit(1L).cast(d38).as("sigma")),
            checkpointDir, maxDepth, AtCap.Return,
            Seq(count(lit(1)), count(when(col("sigma") > sigmaCap, lit(1)))),
            keepLevels = true)(
          step = r => r.frame
            .select(col("seed"), col("id").as("src"), col("sigma"))
            .join(e, "src")
            .groupBy(col("seed"), col("dst").as("id"))
            .agg(sum(col("sigma")).as("sigma"))
            .join(r.levels.reduce(_ unionAll _).select("seed", "id"),
              Seq("seed", "id"), "left_anti")
            .select(col("seed"), col("id"), lit(r.index + 1).as("dist"),
              col("sigma")),
          stop = (_, level) => {
            require(level.getLong(1) == 0L,
              "betweennessSampled: a path count exceeds 1e15 — the " +
                "DECIMAL(38) backward-product headroom; this graph's " +
                "path multiplicity needs a different estimator")
            level.getLong(0) == 0L
          },
          result = fwd => {
            // BACKWARD: δ accumulated level by level from the deepest up
            // (an empty deepest level scores like the one above it). Each
            // per-level frame is (seed, id, sigma, delta): a node's ONE
            // dist is its level index (the anti-join guarantees first
            // visit only), so carrying σ forward and indexing levels by d
            // needs no re-attach join — (seed, id) ↦ (dist, σ) is a
            // function.
            val levels = fwd.levels
            Checkpointing.loop(
                levels.last.select(col("seed"), col("id"), col("sigma"),
                  lit(0L).cast(d38).as("delta")),
                checkpointDir, levels.size - 1, AtCap.Return,
                keepLevels = true, truncateResult = true)(
              step = r => {
                val level = levels(levels.size - 2 - r.index)
                  .select(col("seed"), col("id"), col("sigma"))
                // the successor side: the previous level's deltas (exactly
                // the next-deeper nodes) with their σ_w carried in-frame
                val wside = r.frame
                  .select(col("seed"), col("id").as("dst"),
                    col("delta").as("__dw"), col("sigma").as("__sw"))
                val contrib = level
                  .join(e.select(col("src").as("id"), col("dst")), Seq("id"))
                  .join(wside, Seq("seed", "dst"))
                  // the stated floor: (σ_v·(1e6+δ_w) − mod) / σ_w — all
                  // operands non-negative exact integers
                  .withColumn("__t", expr(
                    """CAST((sigma * (1000000 + __dw)
                      |  - (sigma * (1000000 + __dw)) % __sw)
                      | / __sw AS DECIMAL(38,0))""".stripMargin))
                  .groupBy(col("seed"), col("id"))
                  .agg(sum(col("__t")).as("__delta"))
                level.join(contrib, Seq("seed", "id"), "left")
                  .select(col("seed"), col("id"), col("sigma"),
                    coalesce(col("__delta"), lit(0L).cast(d38)).as("delta"))
              },
              // per-node rollup over seeds; the seed's own position (dist
              // 0, the last level up) never scores
              result = _.levels.dropRight(1).reduce(_ unionAll _)
                .groupBy("id")
                .agg(sum(col("delta")).cast("long").as("betweenness_micro")))
          })
      } finally seedFrame.unpersist()
    }
  }

  /** X159 — modularity of a community assignment (Newman & Girvan,
    * PRE 2004 eq. 5): the score that GRADES what [[labelPropagation]]
    * produces — the fraction of edges inside communities minus the
    * fraction expected if the same degree sequence were wired at
    * random. Q ≈ 0 means the partition explains nothing; the
    * 0.3–0.7 band is the published "real community structure" range.
    * Without this number a community detector's output is
    * unfalsifiable; with it, partitions from different rounds,
    * parameters, or engines compare on one scale.
    *
    * Exactness: with m undirected edges, L_c intra-community edges
    * and D_c the community degree sum, the textbook
    * Q = Σ_c (L_c/m − (D_c/2m)²) clears every fraction when
    * multiplied by 4m²: Q·4m² = Σ_c (4m·L_c − D_c²) — ALL integers in
    * DECIMAL(38,0) (m ≤ 1e15 keeps 4m²·1e6 ≤ 4e36, REFUSED above).
    * `q_micro = (Σ_c terms)·1e6 DIV 4m²` is ONE truncating division —
    * toward zero on either sign, the semantics Spark and the oracle
    * engine share (the X86/X100 verified ground).
    *
    * Graph semantics (the [[labelPropagation]] stance): UNDIRECTED —
    * edges canonicalize to (min, max) pairs and dedupe; self-loops
    * and NULL endpoints drop. Rules, each STATED: a duplicate id in
    * the assignment REFUSES (ambiguous membership); a NULL label
    * REFUSES (a node with no community is a pipeline bug, not a
    * community); an edge endpoint MISSING from the assignment REFUSES
    * (scoring a partial partition would silently inflate Q — the
    * [[walkPaths]] corrupted-frame stance); m = 0 → NULL q ("nothing
    * to score", never 0); assignment-only nodes (no incident edges)
    * are legal and contribute nothing (their D_c is 0), but still
    * count in the community census.
    *
    * Scale shape: one canonical-edge distinct, one degree
    * aggregation, two keyed joins of the node-sized assignment onto
    * the edge frame, two community-sized rollups, one scalar — no
    * windows, no driver state beyond bounded probes. Output: ONE row
    * `(m, k_communities, q_micro)`. */
  def modularity(edges: DataFrame, assignment: DataFrame): DataFrame = {
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      s"edge frame needs (src, dst) columns, got ${edges.columns.mkString(", ")}")
    require(assignment.columns.contains("id") &&
        assignment.columns.contains("label"),
      s"assignment frame needs (id, label) columns, got " +
        assignment.columns.mkString(", "))
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val canon = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist()
    try {
      val asg = assignment
        .select(col("id").cast("long").as("id"),
          col("label").cast("long").as("label"))
        .filter(col("id").isNotNull)
        .persist()
      try {
        val badLab = asg.filter(col("label").isNull).limit(1).collect()
        require(badLab.isEmpty,
          s"modularity: node ${badLab.headOption.map(_.get(0))} has a " +
            "NULL label — a node with no community is a pipeline bug")
        val dup = asg.groupBy("id").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"modularity: node ${dup.headOption.map(_.get(0))} appears " +
            "more than once in the assignment — ambiguous membership")
        val degrees = canon.select(col("a").as("id"))
          .unionAll(canon.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("__deg"))
        val uncovered = degrees.join(asg, Seq("id"), "left_anti")
          .limit(1).collect()
        require(uncovered.isEmpty,
          s"modularity: edge endpoint ${uncovered.headOption.map(_.get(0))} " +
            "is missing from the assignment — scoring a partial " +
            "partition would silently inflate Q")
        val m = canon.count()
        require(m <= 1000000000000000L,
          s"modularity: $m edges exceeds the 4m²·1e6 DECIMAL(38) budget")
        val k = asg.agg(count_distinct(col("label")).as("k"))
          .collect()(0).getLong(0)
        val spark = edges.sparkSession
        if (m == 0) {
          import spark.implicits._
          Seq((0L, k)).toDF("m", "k_communities")
            .withColumn("q_micro", lit(null).cast("long"))
        } else {
          val lc = canon
            .join(asg.select(col("id").as("a"), col("label").as("__la")),
              "a")
            .join(asg.select(col("id").as("b"), col("label").as("__lb")),
              "b")
            .filter(col("__la") === col("__lb"))
            .groupBy(col("__la").as("label"))
            .agg(count(lit(1)).as("__L"))
          val dc = degrees.join(asg, "id")
            .groupBy("label").agg(sum(col("__deg")).as("__D"))
          // 4m² as a DECIMAL literal: it overflows Long well inside the
          // stated m ≤ 1e15 budget
          val denom = BigInt(4) * BigInt(m) * BigInt(m)
          dc.join(lc, Seq("label"), "left")
            .select(((lit(4L) * m).cast(d) *
              coalesce(col("__L"), lit(0L)) -
              col("__D").cast(d) * col("__D")).as("__t"))
            .agg(sum(col("__t")).as("__S"))
            .select(lit(m).as("m"), lit(k).as("k_communities"),
              expr(
                s"""CAST((__S * 1000000 - (__S * 1000000)
                   |  % CAST('$denom' AS DECIMAL(38,0)))
                   | / CAST('$denom' AS DECIMAL(38,0))
                   | AS BIGINT)""".stripMargin).as("q_micro"))
            .localCheckpoint(true)
        }
      } finally asg.unpersist()
    } finally canon.unpersist()
  }
}
