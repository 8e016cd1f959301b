package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RankStatsSpec extends SparkSpec {
  import spark.implicits._

  test("aucReport: perfect/inverted/tied rankings, one-class NULL (X113)") {
    val df = Seq(
      // g1: perfect separation → AUC 1
      ("g1", 3L, true), ("g1", 4L, true), ("g1", 1L, false), ("g1", 2L, false),
      // g2: inverted → AUC 0
      ("g2", 1L, true), ("g2", 2L, false),
      // g3: all tied → half credit everywhere → AUC 1/2
      ("g3", 7L, true), ("g3", 7L, false), ("g3", 7L, false),
      // g4: one class → unmeasurable
      ("g4", 1L, true), ("g4", 2L, true)).toDF("g", "s", "l")
    val got = RankStats.aucReport(df, Seq("g"), col("s"), col("l"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("g1", 2L, 2L, Some(1000000L)),
      ("g2", 1L, 1L, Some(0L)), ("g3", 1L, 2L, Some(500000L)),
      ("g4", 2L, 0L, None)), s"got $got")
    // brute-force pair counting on a hashed fixture (ties included)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val d = md.digest(t.getBytes("UTF-8")); ((d(0) & 0xff) * 256 + (d(1) & 0xff)) % m
    }
    val rows = (1 to 200).map(i => (h(s"s:$i", 20).toLong, h(s"l:$i", 3) == 0))
    val pos = rows.filter(_._2).map(_._1); val neg = rows.filterNot(_._2).map(_._1)
    val wins = (for { p <- pos; q <- neg } yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val brute = wins * 1000000L / (2L * pos.size * neg.size)
    val one = RankStats.aucReport(rows.toDF("s", "l")
        .withColumn("g", lit("x")), Seq("g"), col("s"), col("l"))
      .select("auc_micro").as[Long].collect()(0)
    assert(one == brute, s"got $one, brute $brute")
    // determinism under repartition
    assert(RankStats.aucReport(df.repartition(5), Seq("g"), col("s"),
      col("l")).orderBy("g")
      .as[(String, Long, Long, Option[Long])].collect().toSeq == got)
  }

  test("ksTest: hand ECDFs, brute-force replica, guards (X118)") {
    // g1: a = {1,2}, b = {3,4} — disjoint supports ⇒ D = 1
    // g2: a = {1,2}, b = {1,2} — identical ⇒ D = 0
    // g3: only sample a ⇒ NULL ("not comparable")
    val df = Seq(("g1", 1L, "a"), ("g1", 2L, "a"), ("g1", 3L, "b"),
      ("g1", 4L, "b"), ("g2", 1L, "a"), ("g2", 2L, "a"), ("g2", 1L, "b"),
      ("g2", 2L, "b"), ("g3", 5L, "a")).toDF("g", "v", "s")
    val got = RankStats.ksTest(df, Seq("g"), col("v"), col("s"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Long], Option[Long])].collect().toSeq
    val ks1 = math.round(math.sqrt(2.0 * 2 / 4) * 1000000.0)
    assert(got == Seq(("g1", 2L, 2L, Some(1000000L), Some(ks1)),
      ("g2", 2L, 2L, Some(0L), Some(0L)),
      ("g3", 1L, 0L, None, None)), s"got $got")
    // brute-force ECDF replica on a hashed tie-heavy fixture
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val d = md.digest(t.getBytes("UTF-8"))
      ((d(0) & 0xff) * 256 + (d(1) & 0xff)) % m
    }
    val rows = (1 to 300).map(i =>
      (h(s"v:$i", 15).toLong, if (h(s"s:$i", 2) == 0) "a" else "b"))
    val va = rows.filter(_._2 == "a").map(_._1)
    val vb = rows.filter(_._2 == "b").map(_._1)
    val brute = rows.map(_._1).distinct.map { v =>
      math.abs(va.count(_ <= v).toLong * vb.size -
        vb.count(_ <= v).toLong * va.size)
    }.max * 1000000L / (va.size.toLong * vb.size)
    val one = RankStats.ksTest(rows.toDF("v", "s").withColumn("g", lit("x")),
        Seq("g"), col("v"), col("s"))
      .select("d_micro").as[Long].collect()(0)
    assert(one == brute, s"got $one, brute $brute")
    // determinism under repartition; label-count refusals
    assert(RankStats.ksTest(df.repartition(5), Seq("g"), col("v"), col("s"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](RankStats.ksTest(
      Seq((1L, "a")).toDF("v", "s").withColumn("g", lit("x")),
      Seq("g"), col("v"), col("s")))
    intercept[IllegalArgumentException](RankStats.ksTest(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("v", "s")
        .withColumn("g", lit("x")), Seq("g"), col("v"), col("s")))
    // plan pin: the running-count and total-count windows share the
    // group partitioning, and the final max rides it too — ONE Exchange
    // for the whole statistic after the tie-collapse aggregation's own
    val wide = spark.range(200).select(
      (col("id") % 3).cast("string").as("g"), (col("id") % 17).as("v"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("s"))
    val p = RankStats.ksTest(wide, Seq("g"), col("v"), col("s"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected tie-collapse + window Exchanges only:\n$p")
  }

  test("giniIndex: equality 0, max concentration (n−1)/n, guards (X114)") {
    val df = Seq(("eq", 5L), ("eq", 5L), ("eq", 5L),
      ("top", 0L), ("top", 0L), ("top", 0L), ("top", 100L),
      ("zero", 0L), ("zero", 0L)).toDF("g", "v")
    val got = RankStats.giniIndex(df, Seq("g"), col("v"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("eq", 3L, 15L, Some(0L)),
      ("top", 4L, 100L, Some(750000L)), // (n−1)/n at full concentration
      ("zero", 2L, 0L, None)), s"got $got")
    assert(RankStats.giniIndex(df.repartition(5), Seq("g"), col("v"))
      .orderBy("g")
      .as[(String, Long, Long, Option[Long])].collect().toSeq == got)
    refused("giniIndex: negative value")(RankStats.giniIndex(
      Seq(("g", -1L)).toDF("g", "v"), Seq("g"), col("v")).collect())
  }

  test("spearmanCorr: monotone ±1, the textbook tie value, NULL degenerates (X115)") {
    val df = Seq(
      ("up", 1L, 10L), ("up", 2L, 40L), ("up", 3L, 90L), // monotone → 1
      ("down", 1L, 3L), ("down", 2L, 2L), ("down", 3L, 1L), // → −1
      ("tie", 1L, 1L), ("tie", 1L, 2L), ("tie", 2L, 3L), // √3/2 = 866025µ
      ("flat", 1L, 7L), ("flat", 2L, 7L)) // zero y-variance → NULL
      .toDF("g", "x", "y")
    val got = RankStats.spearmanCorr(df, Seq("g"), col("x"), col("y"))
      .orderBy("g")
      .as[(String, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("down", 3L, Some(-1000000L)),
      ("flat", 2L, None), ("tie", 3L, Some(866025L)),
      ("up", 3L, Some(1000000L))), s"got $got")
    assert(RankStats.spearmanCorr(df.repartition(7), Seq("g"), col("x"),
      col("y")).orderBy("g")
      .as[(String, Long, Option[Long])].collect().toSeq == got)
    // n = 1 group: NULL (no correlation of a point)
    val single = RankStats.spearmanCorr(Seq(("s", 1L, 1L)).toDF("g", "x", "y"),
      Seq("g"), col("x"), col("y")).select("rho_micro").collect()(0)
    assert(single.isNullAt(0))
    // plan pin: both axes' midrank windows partition by the SAME group
    // keys (range-frame counts, no tie-bounds window with changed keys),
    // so the whole statistic is ONE group-keyed Exchange — the y window
    // and the final aggregation reuse the x window's partitioning
    val wide = spark.range(100).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") % 7).as("x"), (col("id") % 11).as("y"))
    val p = RankStats.spearmanCorr(wide, Seq("g"), col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle across both rank axes:\n$p")
  }

  test("kruskalWallis: textbook H, tie correction, NULL degenerates (X132)") {
    import spark.implicits._
    // [1,2] vs [3,4]: R_a = 3, R_b = 7 → H = .6·(4.5 + 24.5) − 15 = 2.4
    val df = Seq(("f", "a", 1L), ("f", "a", 2L), ("f", "b", 3L),
      ("f", "b", 4L)).toDF("fam", "g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      RankStats.kruskalWallis(d, Seq("fam"), col("v"), col("g"))
        .as[(String, Long, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(run(df) == Seq(("f", 2L, 4L, Some(2400000L))), s"got ${run(df)}")
    // ties: a = [1,1], b = [2] → midranks 1.5,1.5,3; H = 1.5;
    // C = 1 − 6/24 = .75 → H' = 2.0 exactly
    val tied = Seq(("t", "a", 1L), ("t", "a", 1L), ("t", "b", 2L))
      .toDF("fam", "g", "v")
    assert(run(tied) == Seq(("t", 2L, 3L, Some(2000000L))),
      s"got ${run(tied)}")
    // degenerates: one group → NULL; all values tied (C = 0) → NULL;
    // families fold independently; NULL values drop
    val mixed = Seq(("k1", "a", 1L), ("k1", "a", 2L),
      ("tie", "a", 5L), ("tie", "b", 5L), ("tie", "b", 5L))
      .toDF("fam", "g", "v")
    assert(run(mixed) == Seq(("k1", 1L, 2L, None), ("tie", 2L, 3L, None)),
      s"got ${run(mixed)}")
    assert(run(df.unionByName(
      Seq(("f", "a", Option.empty[Long])).toDF("fam", "g", "v"),
      allowMissingColumns = false)) ==
      Seq(("f", 2L, 4L, Some(2400000L))))
    // determinism under repartition
    assert(run(df.repartition(7)) == run(df))
  }

  test("kruskalWallis: BIGINT-overflow regime stays exact in DECIMAL (X132)") {
    // 4e6 rows / 2 groups: the per-group quotient S2²/n ≈ 6e19 exceeds
    // Long.Max, the regime where a `DIV`-typed quotient silently WRAPS
    // (the round-15 ADVICE finding) — the decimal floor division must
    // match a full BigInt replay of the doubled-midrank walk
    val n = 4000000L
    val cut = 3900000L
    val big = spark.range(n).select(lit("f").as("fam"),
      (col("id") % 1000).as("v"),
      when(col("id") < cut, "A").otherwise("B").as("g"))
    val got = RankStats.kruskalWallis(big, Seq("fam"), col("v"), col("g"))
      .select("h_micro").as[Long].collect()(0)
    // driver replay: value v∈[0,1000) has exactly 4000 rows (3900 A /
    // 100 B); doubled midrank 2r = 2·before + t + 1 = 8000v + 4001
    val cells = (0L until 1000L).map(v => (v, 8000L * v + 4001L))
    def s2(cnt: Long) = cells.map { case (_, dr) => BigInt(cnt) * dr }.sum
    val (nA, nB) = (cut, n - cut)
    val a = s2(3900L) * s2(3900L) / nA + s2(100L) * s2(100L) / nB
    assert(s2(3900L) * s2(3900L) / nA > BigInt(Long.MaxValue),
      "fixture must exercise the past-Long.Max quotient regime")
    val tTerm = BigInt(1000) * (BigInt(4000).pow(3) - 4000)
    val h = 3.0 * a.toDouble / (n.toDouble * (n + 1)) - 3.0 * (n + 1)
    val c = 1.0 - tTerm.toDouble / (BigInt(n).pow(3) - n).toDouble
    assert(got == math.round(h / c * 1e6), s"got $got")
  }

  test("friedman: textbook chi2, tie-corrected hand case, incomplete " +
      "blocks drop, degenerates (X142)") {
    import spark.implicits._
    def run(d: org.apache.spark.sql.DataFrame) =
      RankStats.friedman(d, Seq("fam"), col("b"), col("t"), col("v"))
        .as[(String, Long, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    // identical rank order in every block: R = (3, 6, 9) over n = 3,
    // k = 3 → chi2 = 12/(3·3·4)·126 − 3·3·4 = 6 exactly
    val clean = (1 to 3).flatMap(b => Seq(
      ("f", b.toLong, "t1", 10L), ("f", b.toLong, "t2", 20L),
      ("f", b.toLong, "t3", 30L))).toDF("fam", "b", "t", "v")
    assert(run(clean) == Seq(("f", 3L, 3L, Some(6000000L))))
    // tie-corrected hand case (2 blocks: (1,1,2) and (1,2,3)):
    // doubled ranks b1 = (3,3,6), b2 = (2,4,6); Rd = (5,7,12),
    // Sd = 218, Ad = 110 → chi2 = 2·(218−192)/(110−96) = 26/7
    val tied = Seq(
      ("g", 1L, "t1", 1L), ("g", 1L, "t2", 1L), ("g", 1L, "t3", 2L),
      ("g", 2L, "t1", 1L), ("g", 2L, "t2", 2L), ("g", 2L, "t3", 3L))
      .toDF("fam", "b", "t", "v")
    assert(run(tied) == Seq(("g", 3L, 2L, Some(3714286L))),
      s"got ${run(tied)}")
    // an incomplete block (missing t3) drops; the statistic is unmoved
    val incomplete = tied.unionByName(
      Seq(("g", 3L, "t1", 5L), ("g", 3L, "t2", 6L)).toDF("fam", "b", "t", "v"))
    assert(run(incomplete) == run(tied))
    // every block internally all-tied → zero denominator → NULL;
    // one treatment → NULL; families fold independently
    val flat = Seq(("z", 1L, "a", 7L), ("z", 1L, "b", 7L),
      ("z", 2L, "a", 9L), ("z", 2L, "b", 9L)).toDF("fam", "b", "t", "v")
    assert(run(flat) == Seq(("z", 2L, 2L, None)))
    val mono = Seq(("m", 1L, "a", 1L), ("m", 2L, "a", 2L))
      .toDF("fam", "b", "t", "v")
    assert(run(mono) == Seq(("m", 1L, 2L, None)))
    // duplicate cell refused; key-like treatment refused; determinism
    refused("a block measures one treatment twice")(run(tied.unionByName(
      Seq(("g", 1L, "t1", 9L)).toDF("fam", "b", "t", "v"))))
    intercept[IllegalArgumentException](RankStats.friedman(tied,
      Seq("fam"), col("b"), col("t"), col("v"), maxTreatments = 2))
    assert(run(tied.repartition(7)) == run(tied))
  }

  test("incremental rank-test cells: KW ledger lifecycle equals the " +
      "one-shot test; exactly-once; compaction value-neutral (X148)") {
    import spark.implicits._
    val rows = (1L to 90L).map(i =>
      (s"f${i % 2}", (i * 7) % 23, s"g${i % 3}"))
    val df = rows.toDF("fam", "v", "g")
    val oneShot = RankStats.kruskalWallis(df, Seq("fam"), col("v"),
      col("g")).as[(String, Long, Long, Option[Long])].collect().toSet
    // from-cells degeneracy pin: FromCells ∘ Cells ≡ one-shot
    val viaCells = RankStats.kruskalWallisFromCells(
      RankStats.kruskalWallisCells(df, Seq("fam"), col("v"), col("g")),
      Seq("fam")).as[(String, Long, Long, Option[Long])].collect().toSet
    assert(viaCells == oneShot)
    // ledger lifecycle: three batches, a replay, a fold — same answer
    val work = graft.core.Scratch.workDir("kwinc")
    val (dir, name) = (work.toString, "kw_cells")
    val batches = rows.grouped(30).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(RankStats.kwCommitBatch(spark, dir, name, i.toLong,
        b.toDF("fam", "v", "g"), Seq("fam"), col("v"), col("g")))
    }
    // exactly-once: replaying a committed id no-ops (returns false)
    assert(!RankStats.kwCommitBatch(spark, dir, name, 1L,
      sys.error("replay must not build the batch plan"),
      Seq("fam"), col("v"), col("g")))
    val incr = RankStats.kwReadTest(spark, dir, name, Seq("fam"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(incr == oneShot)
    // compaction is re-aggregation: fold everything, read again
    assert(RankStats.kwCompact(spark, dir, name, Seq("fam"), maxDeltas = 0))
    val folded = RankStats.kwReadTest(spark, dir, name, Seq("fam"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(folded == oneShot)
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile): Unit
  }

  test("incremental rank-test cells: friedman ledger lifecycle, " +
      "duplicate-merge contract (X148)") {
    import spark.implicits._
    // 2 treatments × 12 blocks, measurements split so the SAME cell
    // receives contributions from different batches — the sum-merge
    // contract the one-shot duplicate refusal cannot serve
    val parts = for {
      b <- 1L to 12L; t <- Seq("t1", "t2"); piece <- Seq(1L, 2L)
    } yield ("fam", b, t, (b * 13 + t.length * 7 + piece * 3) % 40)
    val preSummed = parts.groupBy(p => (p._1, p._2, p._3))
      .map { case ((f, b, t), ps) => (f, b, t, ps.map(_._4).sum) }.toSeq
    val oneShot = RankStats.friedman(preSummed.toDF("fam", "b", "t", "v"),
      Seq("fam"), col("b"), col("t"), col("v"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    // raw pieces through the cells face: duplicates merge by sum
    val viaCells = RankStats.friedmanFromCells(
      RankStats.friedmanCells(parts.toDF("fam", "b", "t", "v"),
        Seq("fam"), col("b"), col("t"), col("v")), Seq("fam"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(viaCells == oneShot)
    // ledger lifecycle with a cross-batch cell split + fold
    val work = graft.core.Scratch.workDir("frinc")
    val (dir, name) = (work.toString, "fr_cells")
    parts.grouped(parts.size / 2 + 1).zipWithIndex.foreach { case (b, i) =>
      assert(RankStats.friedmanCommitBatch(spark, dir, name, i.toLong,
        b.toDF("fam", "b", "t", "v"), Seq("fam"), col("b"), col("t"),
        col("v")))
    }
    assert(!RankStats.friedmanCommitBatch(spark, dir, name, 0L,
      sys.error("replay must not build the batch plan"),
      Seq("fam"), col("b"), col("t"), col("v")))
    val incr = RankStats.friedmanReadTest(spark, dir, name, Seq("fam"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(incr == oneShot)
    assert(RankStats.friedmanCompact(spark, dir, name, Seq("fam"),
      maxDeltas = 0))
    assert(RankStats.friedmanReadTest(spark, dir, name, Seq("fam"))
      .as[(String, Long, Long, Option[Long])].collect().toSet == oneShot)
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile): Unit
  }

  test("wilcoxonSignedRank: textbook hand cases, zero-drop, tie " +
      "correction, all-zero NULL (X146)") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Long)]) =
      RankStats.wilcoxonSignedRank(rows.toDF("fam", "a", "b"),
        Seq("fam"), col("a"), col("b"))
        .as[(String, Long, Long, Option[Long], Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // untied: d = [1,-2,3,4,5] — W+ = 13, W2 = 26, n = 5, T = 0,
    // z = (26-15)/sqrt(660/12) = 1.483240
    val untied = Seq(("u", 11L, 10L), ("u", 10L, 12L), ("u", 13L, 10L),
      ("u", 14L, 10L), ("u", 15L, 10L))
    // ties + zeros: d = [0,0,2,-2,2,5] — zeros drop (n=4, nz=2);
    // |d|=2 triple gets doubled midrank 4, |d|=5 gets 8; W2 = 4+4+8=16;
    // T = 3^3-3 = 24; z = (16-10)/sqrt(336/12) = 1.133893
    val tied0 = Seq(("t", 5L, 5L), ("t", 9L, 9L), ("t", 7L, 5L),
      ("t", 5L, 7L), ("t", 8L, 6L), ("t", 10L, 5L))
    // all-negative: d = [-1,-3,-5] — W2 = 0, z = -1.603567
    val neg = Seq(("n", 1L, 2L), ("n", 1L, 4L), ("n", 1L, 6L))
    // all-zero family: n_pairs 0, statistic NULL, never 0
    val zero = Seq(("z", 3L, 3L), ("z", 4L, 4L))
    val got = run(untied ++ tied0 ++ neg ++ zero)
    assert(got("u") == ((5L, 0L, Some(26L), Some(1483240L))))
    assert(got("t") == ((4L, 2L, Some(16L), Some(1133893L))))
    assert(got("n") == ((3L, 0L, Some(0L), Some(-1603567L))))
    assert(got("z") == ((0L, 2L, None, None)))
    // ties among |d| can never zero the variance: every pair tied at
    // the same |d| still yields a finite z (V12 = 3n(n+1)^2)
    val allTie = Seq(("a", 2L, 1L), ("a", 0L, 1L), ("a", 3L, 2L),
      ("a", 5L, 6L))
    assert(run(allTie)("a")._4.nonEmpty)
    // NULL on either side drops the pair (stated)
    val withNull = RankStats.wilcoxonSignedRank(
      (Seq(("u", Some(11L), Some(10L)), ("u", None, Some(1L)),
        ("u", Some(10L), Some(12L)), ("u", Some(13L), Some(10L)),
        ("u", Some(14L), Some(10L)), ("u", Some(15L), Some(10L)),
        ("u", Some(2L), None))).toDF("fam", "a", "b"),
      Seq("fam"), col("a"), col("b"))
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
    assert(withNull.toSeq == Seq(("u", 5L, 0L, Some(26L), Some(1483240L))))
    // determinism under repartition
    assert(RankStats.wilcoxonSignedRank(
      (untied ++ tied0).toDF("fam", "a", "b").repartition(7),
      Seq("fam"), col("a"), col("b"))
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSet ==
      RankStats.wilcoxonSignedRank((untied ++ tied0).toDF("fam", "a", "b"),
        Seq("fam"), col("a"), col("b"))
        .as[(String, Long, Long, Option[Long], Option[Long])]
        .collect().toSet)
  }

  test("cochranQ: hand case, McNemar pin, all-tied-block invariance, " +
      "guards (X149)") {
    def run(rows: Seq[(String, String, String, Long)]) =
      RankStats.cochranQ(rows.toDF("fam", "b", "t", "v"), Seq("fam"),
          col("b"), col("t"), col("v"))
        .as[(String, Long, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // hand case: k=3, blocks b1..b4 → C=(4,2,1), N=7, ΣC²=21,
    // ΣR²=13 → Q = 2·(3·21−49)/(3·7−13) = 28/8 = 3.5
    val hand = Seq(
      ("h", "b1", "t1", 1L), ("h", "b1", "t2", 0L), ("h", "b1", "t3", 0L),
      ("h", "b2", "t1", 1L), ("h", "b2", "t2", 1L), ("h", "b2", "t3", 0L),
      ("h", "b3", "t1", 1L), ("h", "b3", "t2", 0L), ("h", "b3", "t3", 1L),
      ("h", "b4", "t1", 1L), ("h", "b4", "t2", 1L), ("h", "b4", "t3", 0L))
    assert(run(hand)("h") == ((3L, 4L, 7L, Some(3500000L))))
    // McNemar pin: k=2 with a=2 both-1, b=3 only-t1, c=1 only-t2,
    // d=1 both-0 → Q = (b−c)²/(b+c) = 4/4 = 1
    val mcnemar = (1 to 2).flatMap(i => Seq(
        ("m", s"a$i", "t1", 1L), ("m", s"a$i", "t2", 1L))) ++
      (1 to 3).flatMap(i => Seq(
        ("m", s"b$i", "t1", 1L), ("m", s"b$i", "t2", 0L))) ++
      Seq(("m", "c1", "t1", 0L), ("m", "c1", "t2", 1L),
        ("m", "d1", "t1", 0L), ("m", "d1", "t2", 0L))
    assert(run(mcnemar)("m") == ((2L, 7L, 8L, Some(1000000L))))
    // invariance: extra all-1 / all-0 blocks change ONLY n_blocks
    val padded = run(hand ++ Seq(
      ("h", "p1", "t1", 1L), ("h", "p1", "t2", 1L), ("h", "p1", "t3", 1L),
      ("h", "p0", "t1", 0L), ("h", "p0", "t2", 0L), ("h", "p0", "t3", 0L)))
    assert(padded("h") == ((3L, 6L, 10L, Some(3500000L))))
    // incomplete blocks drop; a family left with only all-tied blocks
    // has zero denominator → NULL
    val degen = run(Seq(
      ("z", "b1", "t1", 1L), ("z", "b1", "t2", 1L),
      ("z", "b2", "t1", 0L), ("z", "b2", "t2", 0L),
      ("z", "b3", "t1", 1L))) // b3 incomplete → drops
    assert(degen("z") == ((2L, 2L, 2L, None)))
    // non-binary value refuses
    refused("binary") {
      run(Seq(("x", "b1", "t1", 2L), ("x", "b1", "t2", 0L)))
    }
    // fractional value refuses too — it must not truncate to 0 and
    // slip past the probe (ADVICE r17)
    refused("binary") {
      RankStats.cochranQ(
        Seq(("x", "b1", "t1", 0.5), ("x", "b1", "t2", 0.0))
          .toDF("fam", "b", "t", "v"),
        Seq("fam"), col("b"), col("t"), col("v"))
    }
    // duplicate cell refuses
    refused("twice") {
      run(Seq(("x", "b1", "t1", 1L), ("x", "b1", "t1", 0L)))
    }
    // determinism under repartition
    val re = RankStats.cochranQ(
      (hand ++ mcnemar).toDF("fam", "b", "t", "v").repartition(7),
      Seq("fam"), col("b"), col("t"), col("v"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet
    assert(re == RankStats.cochranQ(
      (hand ++ mcnemar).toDF("fam", "b", "t", "v"),
      Seq("fam"), col("b"), col("t"), col("v"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet)
  }

  test("kendallTau: textbook τ, tie-corrected τ-b, brute-force replica, " +
      "guards (X150)") {
    def run(rows: Seq[(String, Long, Long)], maxCells: Long = 20000L) =
      RankStats.kendallTau(rows.toDF("fam", "x", "y"), Seq("fam"),
          col("x"), col("y"), maxCells)
        .as[(String, Long, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // textbook no-tie case: x=1..5, y=(3,4,1,2,5) → C=6, D=4, τ=0.2
    val book = Seq(("b", 1L, 3L), ("b", 2L, 4L), ("b", 3L, 1L),
      ("b", 4L, 2L), ("b", 5L, 5L))
    assert(run(book)("b") == ((5L, 6L, 4L, Some(200000L))))
    // tie-corrected: x=(1,1,2,2,3), y=(1,2,1,2,3) → C=5, D=1,
    // tx2=ty2=4 → τ-b = 4/√(8·8) = 0.5
    val tied = Seq(("t", 1L, 1L), ("t", 1L, 2L), ("t", 2L, 1L),
      ("t", 2L, 2L), ("t", 3L, 3L))
    assert(run(tied)("t") == ((5L, 5L, 1L, Some(500000L))))
    // perfect agreement / inversion
    val mono = (1 to 6).map(i => ("p", i.toLong, i.toLong * 10)) ++
      (1 to 6).map(i => ("q", i.toLong, -i.toLong))
    val m = run(mono)
    assert(m("p") == ((6L, 15L, 0L, Some(1000000L))))
    assert(m("q") == ((6L, 0L, 15L, Some(-1000000L))))
    // degenerate margins: all x tied → NULL; single row → NULL
    val d = run(Seq(("z", 1L, 1L), ("z", 1L, 2L), ("s", 4L, 4L)))
    assert(d("z") == ((2L, 0L, 0L, None)))
    assert(d("s") == ((1L, 0L, 0L, None)))
    // brute-force replica on a hashed tie-heavy fixture
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val rows = (1 to 150).map(i =>
      ("f", h(s"x:$i", 8).toLong, h(s"y:$i", 6).toLong))
    var cc = 0L; var dd = 0L; var txx = 0L; var tyy = 0L
    for (i <- rows.indices; j <- rows.indices if i < j) {
      val (_, x1, y1) = rows(i); val (_, x2, y2) = rows(j)
      if (x1 != x2 && y1 != y2) {
        if ((x1 < x2) == (y1 < y2)) cc += 1 else dd += 1
      }
      if (x1 == x2) txx += 2
      if (y1 == y2) tyy += 2
    }
    val n = rows.size.toLong
    val brute = math.round(1000000.0 * (cc.toDouble - dd) /
      math.sqrt(((n * (n - 1) - txx) / 2.0) * ((n * (n - 1) - tyy) / 2.0)))
    assert(run(rows)("f") == ((n, cc, dd, Some(brute))))
    // cells budget refuses
    val e = intercept[IllegalArgumentException] { run(rows, maxCells = 10) }
    assert(e.getMessage.contains("cells"))
    // determinism under repartition
    assert(RankStats.kendallTau(rows.toDF("fam", "x", "y").repartition(7),
      Seq("fam"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet ==
      run(rows).map { case (k, v) => (k, v._1, v._2, v._3, v._4) }.toSet)
  }

  test("independenceTest: textbook 2x2 chi2, exact-independence zero, " +
      "replica, guards (X153)") {
    def run(rows: Seq[(String, String, String)], maxLevels: Int = 1000) =
      RankStats.independenceTest(rows.toDF("fam", "a", "b"), Seq("fam"),
          col("a"), col("b"), maxLevels)
        .as[(String, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8)))
        .toMap
    // 2×2 with O = [[10,20],[20,10]]: E = 15 everywhere,
    // χ² = 4·25/15 = 6.666…, V = √(χ²/60) = 1/3
    val assoc =
      (1 to 10).map(_ => ("h", "a1", "b1")) ++
      (1 to 20).map(_ => ("h", "a1", "b2")) ++
      (1 to 20).map(_ => ("h", "a2", "b1")) ++
      (1 to 10).map(_ => ("h", "a2", "b2"))
    val h = run(assoc)("h")
    assert(h._1 == 60L && h._2 == 2L && h._3 == 2L && h._4 == 1L)
    assert(h._5 == Some(6666667L), s"chi2 ${h._5}")
    assert(h._7 == Some(333333L), s"v ${h._7}")
    // G replica with the per-cell chain stated in the scaladoc
    def gCell(o: Long, n: Long, r: Long, c: Long): Long =
      math.round(1000000.0 * 2 * o *
        math.log((o.toDouble * n) / (r.toDouble * c)))
    val gExpect = gCell(10, 60, 30, 30) + gCell(20, 60, 30, 30) +
      gCell(20, 60, 30, 30) + gCell(10, 60, 30, 30)
    assert(h._6 == Some(gExpect), s"g ${h._6} want $gExpect")
    // exactly independent table → all three statistics exactly 0
    val indep = (for { a <- Seq("x", "y"); b <- Seq("u", "v");
      _ <- 1 to 10 } yield ("i", a, b))
    assert(run(indep)("i") == ((40L, 2L, 2L, 1L, Some(0L), Some(0L),
      Some(0L))))
    // dof 0 (single level on one axis) → NULL statistics, never 0
    assert(run(Seq(("s", "a", "b1"), ("s", "a", "b2")))("s") ==
      ((2L, 1L, 2L, 0L, None, None, None)))
    // NULL category is a real level
    val wn = RankStats.independenceTest(
      Seq(("n", Some("a"), "b1"), ("n", None, "b2"),
        ("n", Some("a"), "b2"), ("n", None, "b1")).toDF("fam", "a", "b"),
      Seq("fam"), col("a"), col("b")).as[(String, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect()
    assert(wn.head._3 == 2L, s"null level dropped: ${wn.head}")
    // hashed replica: floored pico chi2 terms + integer G sum, BigInt
    val md = java.security.MessageDigest.getInstance("MD5")
    def hsh(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val rows = (1 to 300).map(i =>
      ("f", "a" + hsh(s"a:$i", 4), "b" + hsh(s"b:$i", 3)))
    val byCell = rows.groupBy(identity).map { case (k, v) =>
      (k._2, k._3) -> v.size.toLong }
    val rT = byCell.groupBy(_._1._1).map { case (k, v) =>
      k -> v.values.sum }
    val cT = byCell.groupBy(_._1._2).map { case (k, v) =>
      k -> v.values.sum }
    val n = 300L
    val s = byCell.map { case ((a, b), o) =>
      BigInt(o) * o * BigInt("1000000000000") / (rT(a) * cT(b)) }.sum
    val g = byCell.map { case ((a, b), o) =>
      gCell(o, n, rT(a), cT(b)) }.sum
    val chi2 = math.round(n.toDouble *
      (s.toDouble - 1000000000000.0) / 1e6)
    val v = math.round(1000000.0 * math.sqrt(
      math.max(chi2.toDouble / 1e6, 0.0) / (n.toDouble * 2)))
    assert(run(rows)("f") == ((n, 4L, 3L, 6L, Some(chi2), Some(g),
      Some(v))))
    // key-like axis refuses
    refused("levels") {
      run(rows.zipWithIndex.map { case ((f, _, b), i) =>
        (f, s"k$i", b) }, maxLevels = 100)
    }
    // determinism under repartition
    assert(RankStats.independenceTest(
      rows.toDF("fam", "a", "b").repartition(7), Seq("fam"),
      col("a"), col("b")).as[(String, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect().toSet ==
      RankStats.independenceTest(rows.toDF("fam", "a", "b"), Seq("fam"),
        col("a"), col("b")).as[(String, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect().toSet)
  }

  test("goodnessOfFit: exact-fit zero, skewed hand case, unobserved " +
      "reference level, guards (X156)") {
    def ref(rows: (String, Long)*) = rows.toSeq.toDF("level", "weight_micro")
    def run(obs: Seq[(String, String)], r: org.apache.spark.sql.DataFrame) =
      RankStats.goodnessOfFit(obs.toDF("fam", "l"), Seq("fam"), col("l"), r)
        .as[(String, Long, Long, Long, Option[Long], Option[Long])]
        .collect().map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6)))
        .toMap
    val uni4 = ref("a" -> 250000L, "b" -> 250000L, "c" -> 250000L,
      "d" -> 250000L)
    // exact fit: uniform target, uniform observed → χ² = G = 0 exactly
    val fit = (1 to 10).flatMap(_ => Seq("a", "b", "c", "d"))
      .map(("e", _))
    assert(run(fit, uni4)("e") == ((40L, 4L, 3L, Some(0L), Some(0L))))
    // skewed observed (20,10,5,5) on the uniform target: χ² = 15
    val skew = (1 to 20).map(_ => ("s", "a")) ++
      (1 to 10).map(_ => ("s", "b")) ++
      (1 to 5).map(_ => ("s", "c")) ++ (1 to 5).map(_ => ("s", "d"))
    def gCell(o: Long, n: Long, w: Long, wj: Long): Long =
      math.round(1000000.0 * 2 * o *
        math.log((o.toDouble * w) / (n.toDouble * wj)))
    val gSkew = gCell(20, 40, 1000000L, 250000L) +
      gCell(10, 40, 1000000L, 250000L) +
      2 * gCell(5, 40, 1000000L, 250000L)
    assert(run(skew, uni4)("s") ==
      ((40L, 4L, 3L, Some(15000000L), Some(gSkew))))
    // a reference level never observed still charges its expectation
    // through the identity: uniform-5 target, 4 observed levels of 10
    // → χ² = 4·(10−8)²/8 + 8 = 10; dof counts the REFERENCE levels
    val uni5 = ref("a" -> 200000L, "b" -> 200000L, "c" -> 200000L,
      "d" -> 200000L, "e" -> 200000L)
    val g5 = (1 to 4).map(i => gCell(10, 40, 1000000L, 200000L)).sum
    assert(run(fit, uni5)("e") ==
      ((40L, 4L, 4L, Some(10000000L), Some(g5))))
    // observed level absent from the reference refuses
    refused("absent") {
      run(Seq(("x", "zz")), uni4)
    }
    // duplicate / non-positive reference weights refuse
    val e2 = intercept[IllegalArgumentException] {
      run(fit, ref("a" -> 500000L, "a" -> 500000L))
    }
    assert(e2.getMessage.contains("duplicate"))
    val e3 = intercept[IllegalArgumentException] {
      run(fit, ref("a" -> 0L, "b" -> 1000000L))
    }
    assert(e3.getMessage.contains("non-positive"))
    // single-level reference: dof 0 → NULL statistics
    assert(run(Seq(("o", "a"), ("o", "a")), ref("a" -> 1000000L))("o") ==
      ((2L, 1L, 0L, None, None)))
    // determinism under repartition
    assert(RankStats.goodnessOfFit(
      skew.toDF("fam", "l").repartition(7), Seq("fam"), col("l"), uni4)
      .as[(String, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSet ==
      run(skew, uni4).map { case (k, v) =>
        (k, v._1, v._2, v._3, v._4, v._5) }.toSet)
  }

  test("cmhTest: single-stratum (n−1)/n pin, BigInt replica, skipped " +
      "thin strata, guards (X155)") {
    def run(rows: Seq[(String, String, Long, Long)]) =
      RankStats.cmhTest(rows.toDF("fam", "s", "e", "o"), Seq("fam"),
          col("s"), col("e"), col("o"))
        .as[(String, Long, Long, Long, Option[Long], Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6)))
        .toMap
    // single stratum, perfect association (a=d=2, b=c=0): Pearson χ² = 4
    // and CMH = (n−1)/n·χ² = 3 — the classical N−1 chi-square; BC sum
    // is 0 → odds ratio not estimable (NULL, never ∞)
    val hand = Seq(("h", "s1", 1L, 1L), ("h", "s1", 1L, 1L),
      ("h", "s1", 0L, 0L), ("h", "s1", 0L, 0L))
    assert(run(hand)("h") == ((1L, 4L, 2L, Some(3000000L), None)))
    // BigInt replica mirroring the operator's pico floors, 3 strata
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val rows = (1 to 400).map(i => ("f", "s" + h(s"s:$i", 3),
      h(s"e:$i", 2).toLong, h(s"o:$i", 2).toLong))
    val P = BigInt("1000000000000")
    var sa = 0L; var se = BigInt(0); var sv = BigInt(0)
    var sad = BigInt(0); var sbc = BigInt(0); var nTot = 0L
    rows.groupBy(_._2).values.foreach { g =>
      val a = g.count(r => r._3 == 1 && r._4 == 1).toLong
      val b = g.count(r => r._3 == 1 && r._4 == 0).toLong
      val c = g.count(r => r._3 == 0 && r._4 == 1).toLong
      val dd = g.count(r => r._3 == 0 && r._4 == 0).toLong
      val n = a + b + c + dd
      nTot += n
      if (n >= 2) {
        sa += a
        se += BigInt(a + b) * (a + c) * P / n
        sv += BigInt(a + b) * (c + dd) * (a + c) * (b + dd) * P /
          (BigInt(n) * n * (n - 1))
        sad += BigInt(a) * dd * P / n
        sbc += BigInt(b) * c * P / n
      }
    }
    val bigN = BigInt(sa) * P - se
    val tExp = math.round(bigN.toDouble * bigN.toDouble /
      (sv.toDouble * 1e12) * 1e6)
    val orExp = math.round(1000000.0 * sad.toDouble / sbc.toDouble)
    assert(run(rows)("f") ==
      ((3L, 400L, sa, Some(tExp), Some(orExp))))
    // a 1-row stratum is censused but contributes nothing: adding it
    // leaves the statistic unchanged, k_strata and n grow
    val padded = run(rows :+ ("f", "thin", 1L, 1L))
    assert(padded("f") == ((4L, 401L, sa, Some(tExp), Some(orExp))))
    // non-binary refuses
    refused("2×2") {
      run(Seq(("x", "s", 2L, 0L)))
    }
    // fractional exposure/outcome refuses too (ADVICE r17)
    refused("2×2") {
      RankStats.cmhTest(
        Seq(("x", "s", 0.5, 1.0)).toDF("fam", "s", "e", "o"),
        Seq("fam"), col("s"), col("e"), col("o"))
    }
    // all margin-degenerate strata (everyone exposed) → NULL t
    val degen = run((1 to 6).map(i => ("z", "s1", 1L, (i % 2).toLong)))
    assert(degen("z") == ((1L, 6L, 3L, None, None)))
    // determinism under repartition
    assert(RankStats.cmhTest(
      rows.toDF("fam", "s", "e", "o").repartition(7), Seq("fam"),
      col("s"), col("e"), col("o"))
      .as[(String, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSet ==
      run(rows).map { case (k, v) =>
        (k, v._1, v._2, v._3, v._4, v._5) }.toSet)
  }

  test("jonckheereTerpstra: perfect ordering hand case, brute-force " +
      "tie replica, degenerates, guards (X154)") {
    def run(rows: Seq[(String, Long, Long)], maxCells: Long = 20000L) =
      RankStats.jonckheereTerpstra(rows.toDF("fam", "g", "v"),
          Seq("fam"), col("g"), col("v"), maxCells)
        .as[(String, Long, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // perfectly ordered groups {1,2} < {3,4} < {5,6}: every cross pair
    // concordant → J2 = 2·12 = 24; E2 = (36−12)/2 = 12;
    // Var(J) = 456/72, z = 12/√(4·456/72)
    val hand = Seq(("h", 1L, 1L), ("h", 1L, 2L), ("h", 2L, 3L),
      ("h", 2L, 4L), ("h", 3L, 5L), ("h", 3L, 6L))
    val zExp = math.round(1000000.0 * 12.0 /
      math.sqrt(4.0 * 456.0 / 72.0))
    assert(run(hand)("h") == ((6L, 3L, 24L, Some(zExp))))
    // brute-force replica on a hashed tie-heavy fixture, BigInt moments
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val rows = (1 to 200).map(i =>
      ("f", h(s"g:$i", 4).toLong, h(s"v:$i", 9).toLong))
    var j2 = 0L
    for (i <- rows.indices; j <- rows.indices if i != j) {
      val (_, g1, v1) = rows(i); val (_, g2, v2) = rows(j)
      if (g1 < g2) j2 += (if (v1 < v2) 2 else if (v1 == v2) 1 else 0)
    }
    val n = rows.size.toLong
    val ns = rows.groupBy(_._2).values.map(_.size.toLong)
    val ts = rows.groupBy(_._3).values.map(_.size.toLong)
    val e2 = (n * n - ns.map(x => x * x).sum) / 2
    val varJ4 = 4.0 * (
      (n * (n - 1) * (2 * n + 5) -
        ns.map(x => x * (x - 1) * (2 * x + 5)).sum -
        ts.map(x => x * (x - 1) * (2 * x + 5)).sum).toDouble / 72.0 +
      (ns.map(x => x * (x - 1) * (x - 2)).sum *
        ts.map(x => x * (x - 1) * (x - 2)).sum).toDouble /
        (36.0 * n * (n - 1) * (n - 2)) +
      (ns.map(x => x * (x - 1)).sum *
        ts.map(x => x * (x - 1)).sum).toDouble / (8.0 * n * (n - 1)))
    val zBrute = math.round(1000000.0 * (j2.toDouble - e2.toDouble) /
      math.sqrt(varJ4))
    assert(run(rows)("f") == ((n, 4L, j2, Some(zBrute))))
    // degenerates: one group NULL; N < 3 NULL; all-tied NULL
    val d = run(Seq(("a", 1L, 5L), ("a", 1L, 6L), ("a", 1L, 7L),
      ("b", 1L, 1L), ("b", 2L, 2L),
      ("c", 1L, 9L), ("c", 1L, 9L), ("c", 2L, 9L), ("c", 2L, 9L)))
    assert(d("a") == ((3L, 1L, 0L, None)))
    assert(d("b") == ((2L, 2L, 2L, None)))
    assert(d("c") == ((4L, 2L, 4L, None)))
    // budget refuses
    val e = intercept[IllegalArgumentException] { run(rows, maxCells = 5) }
    assert(e.getMessage.contains("cells"))
    // determinism under repartition
    assert(RankStats.jonckheereTerpstra(
      rows.toDF("fam", "g", "v").repartition(7), Seq("fam"),
      col("g"), col("v"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet ==
      run(rows).map { case (k, v) => (k, v._1, v._2, v._3, v._4) }.toSet)
  }

  test("cohenKappa: hand cases for all three weight faces, degenerate " +
      "NULL, null-drop, guards (X157)") {
    // unweighted: po = 3/4, pe = 1/2 → kappa = 1/2
    val cat = Seq(("f", "x", "x"), ("f", "x", "x"), ("f", "x", "y"),
      ("f", "y", "y"),
      // both raters constant on one shared label → chance agreement is
      // total → NULL kappa
      ("c", "z", "z"), ("c", "z", "z")).toDF("fam", "a", "b")
    val got = RankStats.cohenKappa(cat, Seq("fam"), col("a"), col("b"))
      .orderBy("fam").as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("c", 2L, 1L, 0L, 0L, None),
      ("f", 4L, 2L, 250000L, 500000L, Some(500000L))), s"got $got")
    // ordinal fixture: (0,0),(1,2),(2,2),(0,1) — SwO = 2 either weight;
    // quadratic Swrc = 26 → kappa = 18/26; linear Swrc = 16 → kappa = 1/2
    val ord = Seq(("f", 0L, 0L), ("f", 1L, 2L), ("f", 2L, 2L),
      ("f", 0L, 1L)).toDF("fam", "a", "b")
    val quad = RankStats.cohenKappa(ord, Seq("fam"), col("a"), col("b"),
      weightPower = 2).as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(quad == Seq(("f", 4L, 3L, 500000L, 1625000L, Some(692308L))),
      s"got $quad")
    val lin = RankStats.cohenKappa(ord, Seq("fam"), col("a"), col("b"),
      weightPower = 1).as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(lin == Seq(("f", 4L, 3L, 500000L, 1000000L, Some(500000L))),
      s"got $lin")
    // a NULL rating on either side drops the unit, never disagrees
    val withNull = Seq(("f", Some("x"), Some("x")), ("f", Some("x"), None),
      ("f", None, Some("y"))).toDF("fam", "a", "b")
    val nd = RankStats.cohenKappa(withNull, Seq("fam"), col("a"), col("b"))
      .select("n").as[Long].collect()
    assert(nd.toSeq == Seq(1L))
    // ordinal weights refuse non-integer labels
    refused("ordinal") {
      RankStats.cohenKappa(cat, Seq("fam"), col("a"), col("b"),
        weightPower = 2).collect()
    }
    // key-like label axis refuses
    val wide = (1 to 40).map(i => ("f", s"l$i", s"l$i"))
      .toDF("fam", "a", "b")
    val e2 = intercept[IllegalArgumentException] {
      RankStats.cohenKappa(wide, Seq("fam"), col("a"), col("b"),
        maxLevels = 10).collect()
    }
    assert(e2.getMessage.contains("labels"))
    // determinism under repartition
    assert(RankStats.cohenKappa(cat.repartition(7), Seq("fam"),
      col("a"), col("b")).orderBy("fam").as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq == got)
  }

  test("averagePrecision: sklearn step hand case, perfect/inverted, " +
      "constant-score = prevalence pin, one-class NULL, guards (X158)") {
    val df = Seq(
      // f: thresholds desc — t(3): 1·1/(2·1), t(1): 1·2/(2·3) → 5/6
      ("f", 3L, 1L), ("f", 2L, 0L), ("f", 1L, 1L),
      // p: all positives above all negatives → AP = 1
      ("p", 2L, 1L), ("p", 2L, 1L), ("p", 1L, 0L),
      // i: the one positive below the one negative → AP = 1/2
      ("i", 2L, 0L), ("i", 1L, 1L),
      // c: constant score → AP = prevalence exactly (the degeneracy pin)
      ("c", 5L, 1L), ("c", 5L, 0L), ("c", 5L, 0L),
      // z: no positives → NULL ("nothing to retrieve")
      ("z", 1L, 0L), ("z", 2L, 0L)).toDF("fam", "s", "y")
    val got = RankStats.averagePrecision(df, Seq("fam"), col("s"),
        col("y")).orderBy("fam")
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("c", 3L, 1L, 333333L, Some(333333L)),
      ("f", 3L, 2L, 666666L, Some(833333L)),
      ("i", 2L, 1L, 500000L, Some(500000L)),
      ("p", 3L, 2L, 666666L, Some(1000000L)),
      ("z", 2L, 0L, 0L, None)), s"got $got")
    // boolean labels ride the same contract
    val bool = RankStats.averagePrecision(
      Seq(("f", 2L, true), ("f", 1L, false)).toDF("fam", "s", "y"),
      Seq("fam"), col("s"), col("y"))
      .select("ap_micro").as[Long].collect().toSeq
    assert(bool == Seq(1000000L))
    // non-binary label refuses
    refused("0/1") {
      RankStats.averagePrecision(Seq(("f", 1L, 2L)).toDF("fam", "s", "y"),
        Seq("fam"), col("s"), col("y")).collect()
    }
    // fractional label refuses too (ADVICE r17)
    refused("0/1") {
      RankStats.averagePrecision(
        Seq(("f", 1L, 1.9)).toDF("fam", "s", "y"),
        Seq("fam"), col("s"), col("y")).collect()
    }
    // determinism under repartition
    assert(RankStats.averagePrecision(df.repartition(7), Seq("fam"),
      col("s"), col("y")).orderBy("fam")
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq == got)
  }

  test("fleissKappa: pair-agreement hand cases, degenerate NULLs, " +
      "null-category level, BigInt replica, guards (X162)") {
    // f: units (a,a), (a,b), (b,b) — A = 4, B = 18 → pbar = 2/3,
    // pe = 1/2, kappa = 1/3
    // p: units (a,a), (b,b) — perfect: kappa = 1
    // s: every rating the same category — pe = 1 → NULL kappa, never 1
    // o: one rating per unit — a panel of one is not testable
    val df = Seq(
      ("f", "u1", "a"), ("f", "u1", "a"), ("f", "u2", "a"),
      ("f", "u2", "b"), ("f", "u3", "b"), ("f", "u3", "b"),
      ("p", "u1", "a"), ("p", "u1", "a"), ("p", "u2", "b"),
      ("p", "u2", "b"),
      ("s", "u1", "z"), ("s", "u1", "z"), ("s", "u2", "z"),
      ("s", "u2", "z"),
      ("o", "u1", "a"), ("o", "u2", "b")).toDF("fam", "u", "c")
    val got = RankStats.fleissKappa(df, Seq("fam"), col("u"), col("c"))
      .orderBy("fam")
      .as[(String, Long, Long, Long, Option[Long], Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      ("f", 3L, 2L, 2L, Some(666666L), 500000L, Some(333333L)),
      ("o", 2L, 1L, 2L, None, 500000L, None),
      ("p", 2L, 2L, 2L, Some(1000000L), 500000L, Some(1000000L)),
      ("s", 2L, 2L, 1L, Some(1000000L), 1000000L, None)), s"got $got")
    // a NULL category is a real rating outcome ("(null)")
    val nl = RankStats.fleissKappa(
      Seq(("f", "u1", Some("a")), ("f", "u1", Option.empty[String]))
        .toDF("fam", "u", "c"), Seq("fam"), col("u"), col("c"))
      .select("k_categories").as[Long].collect().toSeq
    assert(nl == Seq(2L))
    // BigInt replica on a hashed panel: 40 units x 5 raters x 4 cats
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val d0 = md.digest(t.getBytes("UTF-8"))
      ((d0(0) & 0xff) * 256 + (d0(1) & 0xff)) % m
    }
    val panel = for { u <- 1 to 40; r <- 1 to 5 }
      yield (s"u$u", s"c${h(s"$u:$r", 4)}")
    val nij = panel.groupBy(identity).view.mapValues(_.size)
    val A = BigInt(nij.values.map(c => c.toLong * c).sum) - 40L * 5
    val B = panel.groupBy(_._2).values
      .map(g => BigInt(g.size) * g.size).sum
    val nn = BigInt(200)
    val num = A * nn * nn - B * nn * 4
    val den = nn * 4 * (nn * nn - B)
    val brute = (num * 1000000 / den).toLong // BigInt / truncates to zero
    val one = RankStats.fleissKappa(panel.toDF("u", "c")
        .withColumn("fam", lit("x")), Seq("fam"), col("u"), col("c"))
      .select("kappa_micro").as[Long].collect()(0)
    assert(one == brute, s"got $one, brute $brute")
    // unequal panel sizes refuse
    refused("unequal") {
      RankStats.fleissKappa(
        Seq(("f", "u1", "a"), ("f", "u1", "a"), ("f", "u2", "b"))
          .toDF("fam", "u", "c"), Seq("fam"), col("u"), col("c"))
        .collect()
    }
    // determinism under repartition
    assert(RankStats.fleissKappa(df.repartition(7), Seq("fam"),
      col("u"), col("c")).orderBy("fam").as[(String, Long, Long, Long, Option[Long], Long, Option[Long])].collect().toSeq == got)
  }

  test("gainsTable: hand curve, pro-rata tie sharing, exact full-depth " +
      "self-check, one-class NULL, guards (X164)") {
    // f: 10 distinct scores, positives at ranks 1 and 5, 5 buckets
    val f = (1 to 10).map(i =>
      ("f", (11 - i).toLong, if (i == 1 || i == 5) 1L else 0L))
    // t: all four rows tied on one score, 2 of 4 positive, 2 buckets —
    // the boundary splits the tied level pro-rata
    val t = (1 to 4).map(i => ("t", 7L, if (i <= 2) 1L else 0L))
    // z: no positives
    val z = Seq(("z", 1L, 0L), ("z", 2L, 0L))
    val df = (f ++ t ++ z).toDF("fam", "s", "y")
    val gotF = RankStats.gainsTable(df, Seq("fam"), col("s"), col("y"),
        buckets = 5).filter(col("fam") === "f").orderBy("bucket")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(gotF == Seq(
      ("f", 1L, 2L, Some(500000L), Some(2500000L)),
      ("f", 2L, 4L, Some(500000L), Some(1250000L)),
      ("f", 3L, 6L, Some(1000000L), Some(1666666L)),
      ("f", 4L, 8L, Some(1000000L), Some(1250000L)),
      ("f", 5L, 10L, Some(1000000L), Some(1000000L))), s"got $gotF")
    val gotT = RankStats.gainsTable(df, Seq("fam"), col("s"), col("y"),
        buckets = 2).filter(col("fam") === "t").orderBy("bucket")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    // tied level shares pro-rata: top half captures exactly half the
    // positives, lift exactly 1
    assert(gotT == Seq(
      ("t", 1L, 2L, Some(500000L), Some(1000000L)),
      ("t", 2L, 4L, Some(1000000L), Some(1000000L))), s"got $gotT")
    val gotZ = RankStats.gainsTable(df, Seq("fam"), col("s"), col("y"),
        buckets = 2).filter(col("fam") === "z").orderBy("bucket")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(gotZ.map(_._4) == Seq(None, None) &&
      gotZ.map(_._5) == Seq(None, None), s"got $gotZ")
    // N < buckets: the empty depths emit 0 gain and NULL lift
    val tiny = RankStats.gainsTable(
      Seq(("g", 1L, 1L)).toDF("fam", "s", "y"), Seq("fam"), col("s"),
      col("y"), buckets = 3).orderBy("bucket")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    assert(tiny == Seq(("g", 1L, 0L, Some(0L), None),
      ("g", 2L, 0L, Some(0L), None), ("g", 3L, 1L, Some(1000000L),
        Some(1000000L))), s"got $tiny")
    // non-binary refusal (integer AND fractional — ADVICE r17);
    // determinism under repartition
    refused("gainsTable: label must be exactly 0/1")(RankStats.gainsTable(
      Seq(("g", 1L, 2L)).toDF("fam", "s", "y"), Seq("fam"), col("s"),
      col("y")).collect())
    refused("gainsTable: label must be exactly 0/1")(RankStats.gainsTable(
      Seq(("g", 1L, 0.5)).toDF("fam", "s", "y"), Seq("fam"), col("s"),
      col("y")).collect())
    assert(RankStats.gainsTable(df.repartition(7), Seq("fam"), col("s"),
      col("y"), buckets = 5).filter(col("fam") === "f").orderBy("bucket")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq == gotF)
  }

  test("friedmanPostHoc: stage composition pins, planted effect, " +
      "all-zero pair drop (X173)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    // 20 complete blocks × 3 treatments, t3 shifted far above the
    // 0..999 noise floor — the t3 pairs must reject, t1/t2 must not
    val rows = for (b <- 1 to 20; tr <- Seq("t1", "t2", "t3")) yield
      ("f", b.toLong, tr, h(s"$b:$tr", 1000).toLong +
        (if (tr == "t3") 2000L else 0L))
    val df = rows.toDF("fam", "blk", "trt", "v")
    val got = RankStats.friedmanPostHoc(df, Seq("fam"), col("blk"),
        col("trt"), col("v"))
      .orderBy("treat_a", "treat_b")
      .as[(String, String, String, Option[Long], Long, Long,
        Option[Long], Option[Long], Option[Long], Long, Long, Boolean)]
      .collect().toSeq
    assert(got.map(r => (r._2, r._3)) ==
      Seq(("t1", "t2"), ("t1", "t3"), ("t2", "t3")))
    assert(!got(0)._12 && got(1)._12 && got(2)._12, s"got $got")
    assert(got.forall(_._11 == 3L))
    // composition pin 1: the omnibus column IS friedman's chi2
    val omni = RankStats.friedman(df, Seq("fam"), col("blk"),
      col("trt"), col("v")).select("chi2_micro")
      .as[Option[Long]].collect().head
    assert(got.forall(_._4 == omni))
    // composition pin 2: each pair's (n_pairs, n_zeros, w2, z) IS
    // wilcoxonSignedRank on the pivoted pair over the same blocks
    val wide = df.groupBy("blk").pivot("trt").sum("v")
      .withColumn("fam", lit("f"))
    Seq(("t1", "t2", got(0)), ("t1", "t3", got(1)),
      ("t2", "t3", got(2))).foreach { case (a, b, row) =>
      val w = RankStats.wilcoxonSignedRank(wide, Seq("fam"), col(a),
          col(b))
        .as[(String, Long, Long, Option[Long], Option[Long])]
        .collect().head
      assert((w._2, w._3, w._4, w._5) ==
        ((row._5, row._6, row._7, row._8)), s"pair $a/$b: $w vs $row")
    }
    // composition pin 3: the Pólya bridge is the stated chain
    got.foreach { r =>
      val z = r._8.get.toDouble / 1e6
      val p = math.round(1e6 *
        (1.0 - math.sqrt(1.0 - math.exp(-2.0 * z * z / math.Pi))))
      assert(r._9.contains(p), s"p chain: $r vs $p")
    }
    // an all-zero pair has NULL z → NULL p → drops from the screen
    val zeros = (1 to 5).flatMap(b => Seq(("z", b.toLong, "a", 7L),
      ("z", b.toLong, "b", 7L)))
    assert(RankStats.friedmanPostHoc(
      zeros.toDF("fam", "blk", "trt", "v"), Seq("fam"), col("blk"),
      col("trt"), col("v")).count() == 0L)
    // determinism under repartition
    assert(RankStats.friedmanPostHoc(df.repartition(7), Seq("fam"),
      col("blk"), col("trt"), col("v"))
      .orderBy("treat_a", "treat_b")
      .as[(String, String, String, Option[Long], Long, Long,
        Option[Long], Option[Long], Option[Long], Long, Long, Boolean)]
      .collect().toSeq == got)
  }
}
