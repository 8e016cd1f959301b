package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AssociationsSpec extends SparkSpec {
  import spark.implicits._

  test("pairRules: hand-checked support/confidence/lift, both directions (X97)") {
    // 4 baskets: {m,b}, {m,b}, {m}, {e} — N=4, n_m=3, n_b=2, n_mb=2
    // support(m,b) = 2/4 = 500000; conf(m→b) = 2/3 = 666666;
    // conf(b→m) = 2/2 = 1e6; lift = 2·4/(3·2) = 4/3 = 1333333
    val rows = Seq((1L, "m"), (1L, "b"), (2L, "m"), (2L, "b"),
      (3L, "m"), (4L, "e"),
      (1L, "m")) // duplicate item in one basket counts once
      .toDF("bk", "it")
    val out = Associations.pairRules(rows, col("bk"), col("it"),
        minSupportMicro = 1L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("b", "m", 2L, 500000L, 1000000L, 1333333L),
      ("m", "b", 2L, 500000L, 666666L, 1333333L)), s"got $out")
    // support threshold prunes the pair entirely (both directions)
    assert(Associations.pairRules(rows, col("bk"), col("it"),
      minSupportMicro = 600000L).count() == 0)
  }

  test("pairRules: independence lift ≈ 1e6; brute-force replica; guards") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String, m: Int) = {
      val d = md.digest(s.getBytes("UTF-8")); ((d(0) & 0xff) * 256 + (d(1) & 0xff)) % m
    }
    // 400 baskets, each item present independently-ish by hash
    val rows = for {
      bk <- 1 to 400; it <- Seq("x", "y", "z")
      if h(s"$it:$bk", 100) < 50
    } yield (bk.toLong, it)
    val df = rows.toDF("bk", "it")
    val got = Associations.pairRules(df, col("bk"), col("it"), 1L)
      .as[(String, String, Long, Long, Long, Long)].collect()
    // independent ~50% items, CONDITIONED on the basket being observed
    // (a basket with no item present never appears): theory says lift =
    // P(any of 3 present) = 1 − 0.5³ = 0.875, not 1 — pin around that
    assert(got.nonEmpty && got.forall(r =>
      r._6 > 760000L && r._6 < 990000L), s"got ${got.toSeq}")
    // brute-force replica of every number
    val byB = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = byB.size.toLong
    val items = rows.map(_._2).distinct
    val nI = items.map(i => i -> byB.values.count(_.contains(i)).toLong).toMap
    val expect = (for {
      a <- items; c <- items if a != c
      nab = byB.values.count(s => s.contains(a) && s.contains(c)).toLong
      if nab * 1000000 / n >= 1
    } yield (a, c, nab, nab * 1000000 / n, nab * 1000000 / nI(a),
      (BigInt(nab) * n * 1000000 / (BigInt(nI(a)) * nI(c))).toLong)).toSet
    assert(got.toSet == expect,
      s"missing=${(expect -- got.toSet).take(2)} extra=${(got.toSet -- expect).take(2)}")
    // determinism; mega-basket refusal; arg guards
    val again = Associations.pairRules(df.repartition(7), col("bk"),
        col("it"), 1L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(again == got.toSet)
    val mega = (1 to 20).map(i => (1L, s"i$i")).toDF("bk", "it")
    intercept[IllegalArgumentException](Associations.pairRules(
      mega, col("bk"), col("it"), 1L, maxBasketSize = 10))
    intercept[IllegalArgumentException](Associations.pairRules(
      df, col("bk"), col("it"), -1L))
  }

  test("tripleRules: hand-checked Apriori level 2 over pseudo-items (X97)") {
    // b1,b2 = {a,b,c}; b3 = {a,b}; b4 = {c} — N=4, margins a=3 b=3 c=3,
    // pair counts ab=3 ac=2 bc=2, triple abc=2
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"), (4L, "c")).toDF("bk", "it")
    val got = Associations.tripleRules(df, col("bk"), col("it"),
        minSupportMicro = 500000L)
      .as[(String, String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      // {a,b}→c: conf = 2e6 DIV n_ab(3), lift = 2·4·1e6 DIV (3·3)
      ("a", "b", "c", 2L, 500000L, 666666L, 888888L),
      // {a,c}→b and {b,c}→a: pair margin 2 ⇒ conf 1e6, lift 8e6 DIV 6
      ("a", "c", "b", 2L, 500000L, 1000000L, 1333333L),
      ("b", "c", "a", 2L, 500000L, 1000000L, 1333333L)), s"got $got")
    // pseudo-pseudo pairs and {a,b}→a degenerates are filtered; a pair
    // below the L2 cut spawns no pseudo-item at all (Apriori prune):
    // at 75% only ab survives stage 1, and (a+b, c) at 50% fails stage 2
    assert(Associations.tripleRules(df, col("bk"), col("it"),
      minSupportMicro = 750000L).count() == 0)
    // determinism under repartition; sep-in-item refusal
    val again = Associations.tripleRules(df.repartition(7), col("bk"),
        col("it"), 500000L)
      .as[(String, String, String, Long, Long, Long, Long)].collect().toSet
    assert(again == got)
    refused("item 'x+y' contains the pseudo-item separator '+'")(Associations.tripleRules(
      Seq((1L, "x+y"), (1L, "z")).toDF("bk", "it"), col("bk"), col("it"), 1L))
    // reliable-checkpoint mode (the cluster setting where a lost executor
    // must not kill the mine): byte-identical output via the same knob
    // Graph.pageRank threads through Checkpointing.truncate
    val ckpt = graft.core.Scratch.workDir("triple-ckpt").toString
    val reliable = Associations.tripleRules(df, col("bk"), col("it"),
        minSupportMicro = 500000L, checkpointDir = Some(ckpt))
      .as[(String, String, String, Long, Long, Long, Long)].collect().toSet
    assert(reliable == got)
  }

  test("segmentOverlap: exact coefficient family on a hand fixture (X107)") {
    // A = {1,2,3}, B = {2,3,4}, C = {5}; universe = 5 members
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 2L), ("B", 3L), ("B", 4L), ("B", 4L), // dup tag counts once
      ("C", 5L)).toDF("seg", "m")
    val got = Associations.segmentOverlap(df, col("seg"), col("m"))
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    // jaccard = 2/4; containments 2/3 each; lift = 2·5·1e6/(3·3)
    assert(got == Set(("A", "B", 3L, 3L, 2L, 500000L, 666666L, 666666L,
      1111111L)), s"got $got")
    // disjoint segments emit no pair; determinism; guards
    assert(!got.exists(r => r._2 == "C" || r._1 == "C"))
    assert(Associations.segmentOverlap(df.repartition(7), col("seg"),
      col("m")).as[(String, String, Long, Long, Long, Long, Long, Long,
      Long)].collect().toSet == got)
    val tagged = Seq(("A", 1L), ("B", 1L), ("C", 1L)).toDF("seg", "m")
    intercept[IllegalArgumentException](Associations.segmentOverlap(
      tagged, col("seg"), col("m"), maxSegsPerMember = 2))
    intercept[IllegalArgumentException](Associations.segmentOverlap(
      Seq((Option.empty[String], 1L)).toDF("seg", "m"),
      col("seg"), col("m")))
  }
}
