package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TrendTestsSpec extends SparkSpec {
  import spark.implicits._

  test("theilSen: hand pairs, outlier immunity, equal-x exclusion (X121)") {
    // y = 2x exactly except one wild outlier at x=4: OLS is wrecked,
    // Theil-Sen's median slope stays 2.0 (= 2e6 micro)
    val df = Seq(("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 6L),
      ("g", 4L, 1000L), ("g", 5L, 10L)).toDF("gr", "x", "y")
    val got = TrendTests.theilSen(df, Seq("gr"), col("x"), col("y"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("g", 10L, 2000000L)), s"got $got")
    // brute replica: all 10 pair slopes, nearest-rank median (rank 5)
    val pts = Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 1000L), (5L, 10L))
    val slopes = (for {
      (xi, yi) <- pts; (xj, yj) <- pts if xi < xj
    } yield (yj - yi) * 1000000L / (xj - xi)).sorted
    assert(got.head._3 == slopes((slopes.size + 1) / 2 - 1))
    // equal-x pairs are excluded; an all-tied-x group vanishes
    val tied = Seq(("t", 1L, 5L), ("t", 1L, 9L)).toDF("gr", "x", "y")
    assert(TrendTests.theilSen(tied, Seq("gr"), col("x"), col("y"))
      .count() == 0)
    // determinism + budget refusals
    assert(TrendTests.theilSen(df.repartition(5), Seq("gr"), col("x"),
      col("y")).as[(String, Long, Long)].collect().toSeq == got)
    intercept[IllegalArgumentException](TrendTests.theilSen(
      df, Seq("gr"), col("x"), col("y"), maxN = 3))
    intercept[IllegalArgumentException](TrendTests.theilSen(
      Seq(("g", 1L, 2000000000L)).toDF("gr", "x", "y"),
      Seq("gr"), col("x"), col("y")))
  }

  test("mannKendall: textbook S and tie-corrected variance, guards (X122)") {
    // monotone up, n=4: S = 6 (all pairs +1), no ties →
    // var18 = 4·3·13 = 156; z = (6−1)/sqrt(156/18)·1e6
    val up = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L),
      ("g", 4L, 40L)).toDF("gr", "x", "y")
    val z = math.round(5.0 / math.sqrt(156.0 / 18.0) * 1e6)
    val got = TrendTests.mannKendall(up, Seq("gr"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(("g", 4L, 6L, 156L, Some(z))), s"got $got")
    // a y-tie: values 10,20,20,5 → S = (+1)+(+1)+(−1)+(0)+(−1)+(−1) = −1
    // tie correction: one t=2 group → 2·1·9 = 18; var18 = 156 − 18 = 138
    val mixed = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 20L),
      ("g", 4L, 5L)).toDF("gr", "x", "y")
    val zm = math.round(0.0 / math.sqrt(138.0 / 18.0) * 1e6)
    val m = TrendTests.mannKendall(mixed, Seq("gr"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(m == Seq(("g", 4L, -1L, 138L, Some(zm))), s"got $m")
    // all y tied: zero variance → NULL z, never a fake 0
    val flat = Seq(("g", 1L, 7L), ("g", 2L, 7L)).toDF("gr", "x", "y")
    val f = TrendTests.mannKendall(flat, Seq("gr"), col("x"), col("y"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSeq
    assert(f == Seq(("g", 2L, 0L, 0L, None)), s"got $f")
    // determinism; duplicate-x refusal; budget refusal
    assert(TrendTests.mannKendall(up.repartition(3), Seq("gr"), col("x"),
      col("y")).as[(String, Long, Long, Long, Option[Long])]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](TrendTests.mannKendall(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("gr", "x", "y"),
      Seq("gr"), col("x"), col("y")))
    intercept[IllegalArgumentException](TrendTests.mannKendall(
      up, Seq("gr"), col("x"), col("y"), maxN = 3))
  }

  test("pettitt: level-shift hand case, tie midranks, constant K=0 " +
      "capped p, n=1 NULL, guards (X160)") {
    // s: [1,2 | 10,11] — U = (-3,-4,-3), K = 4 at t = 2,
    // p = 2*exp(-6*16/(64+16))
    // t: [5,5,1] — doubled midranks make the tie exact: U = (1,2), K = 2,
    // p caps at 1
    // c: constant — K = 0, earliest change_x = 1, p caps at 1
    // o: single point — not testable
    val df = Seq(("s", 1L, 1L), ("s", 2L, 2L), ("s", 3L, 10L),
      ("s", 4L, 11L),
      ("t", 1L, 5L), ("t", 2L, 5L), ("t", 3L, 1L),
      ("c", 1L, 7L), ("c", 2L, 7L), ("c", 3L, 7L),
      ("o", 1L, 9L)).toDF("gr", "x", "y")
    val got = TrendTests.pettitt(df, Seq("gr"), col("x"), col("y"))
      .orderBy("gr")
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    val pS = math.round(2e6 * math.exp(-6.0 * 16 / (64 + 16)))
    assert(got == Seq(
      ("c", 3L, Some(0L), Some(1L), Some(1000000L)),
      ("o", 1L, None, None, None),
      ("s", 4L, Some(4L), Some(2L), Some(pS)),
      ("t", 3L, Some(2L), Some(2L), Some(1000000L))), s"got $got")
    // brute-force replica on a hashed fixture: direct double-sum U_t
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val d = md.digest(t.getBytes("UTF-8"))
      ((d(0) & 0xff) * 256 + (d(1) & 0xff)) % m
    }
    val rows = (1 to 80).map(i => (i.toLong, h(s"v:$i", 9).toLong))
    val us = (1 to 79).map { t =>
      (t.toLong, (for { i <- 1 to t; j <- t + 1 to 80 } yield
        math.signum(rows(i - 1)._2 - rows(j - 1)._2).toLong).sum)
    }
    val bruteK = us.map(u => math.abs(u._2)).max
    val bruteX = us.filter(u => math.abs(u._2) == bruteK).map(_._1).min
    val one = TrendTests.pettitt(rows.toDF("x", "y")
        .withColumn("gr", lit("x")), Seq("gr"), col("x"), col("y"))
      .select("k_stat", "change_x")
      .as[(Long, Long)].collect()(0)
    assert(one == (bruteK, bruteX), s"got $one, brute ($bruteK, $bruteX)")
    // duplicate-x refusal; determinism under repartition
    refused("pettitt: duplicate (group, x) observation")(TrendTests.pettitt(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("gr", "x", "y"),
      Seq("gr"), col("x"), col("y")))
    assert(TrendTests.pettitt(df.repartition(5), Seq("gr"), col("x"),
      col("y")).orderBy("gr")
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq == got)
  }
}
