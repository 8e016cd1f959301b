package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExperimentSpec extends SparkSpec {
  import spark.implicits._

  test("abScorecard: hand-checked Welch z against an independent replica (X86)") {
    // control: {10, 20, 30} (mean 20, var 100); t1: {22, 26, 30, 34}
    // (mean 28, var 26.666…); z = 8 / sqrt(100/3 + 26.666/4) = 8/6.3245…
    val df = (Seq(10L, 20L, 30L).map(("c", _)) ++
      Seq(22L, 26L, 30L, 34L).map(("t1", _))).toDF("arm", "m")
    val r = Experiment.abScorecard(df, col("arm"), col("m"), control = "c")
      .collect().head
    assert(r.getString(0) == "t1" && r.getLong(1) == 3 && r.getLong(2) == 4)
    assert(r.getLong(3) == 20L && r.getLong(4) == 28L && r.getLong(5) == 8L)
    // lift = 8e6 / 20 floor = 400000
    assert(r.getLong(6) == 400000L)
    // independent replica with plain doubles
    val se = math.sqrt(100.0 / 3 + (26 + 2.0 / 3) / 4)
    assert(r.getLong(7) == math.round(8 / se * 1e6), s"z = ${r.getLong(7)}")
    assert(!r.getBoolean(8)) // |z| ≈ 1.26 < 1.96
  }

  test("abScorecard: multi-arm, significance, negative control mean") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def noise(i: Int) = {
      val h = md.digest(s"ab:$i".getBytes("UTF-8")); (h(0) & 0xff).toLong
    }
    // t_up shifted far above control → significant; t_same is not
    val rows = (1 to 200).map(i => ("c", 1000 + noise(i))) ++
      (1 to 200).map(i => ("t_up", 1400 + noise(i + 7))) ++
      (1 to 200).map(i => ("t_same", 1000 + noise(i + 13)))
    val out = Experiment.abScorecard(rows.toDF("arm", "m"), col("arm"),
        col("m"), control = "c")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("t_up").getBoolean(8), s"got ${out("t_up")}")
    assert(!out("t_same").getBoolean(8), s"got ${out("t_same")}")
    assert(out.keySet == Set("t_up", "t_same"))
    // repartition determinism (decimal sums are order-free)
    val again = Experiment.abScorecard(rows.toDF("arm", "m").repartition(7),
        col("arm"), col("m"), control = "c")
      .collect().map(r => r.getString(0) -> r.getLong(7)).toMap
    assert(again == out.view.mapValues(_.getLong(7)).toMap)
    // negative control mean → NULL relative lift, z still defined
    val neg = Experiment.abScorecard(
        Seq(("c", -5L), ("c", -15L), ("t", 1L), ("t", 3L)).toDF("arm", "m"),
        col("arm"), col("m"), control = "c").collect().head
    assert(neg.isNullAt(6) && !neg.isNullAt(7))
  }

  test("abScorecard: guards — control present, n >= 2, arm cardinality, NULLs") {
    val df = Seq(("c", 1L), ("c", 2L), ("t", 3L), ("t", 4L)).toDF("arm", "m")
    val e = intercept[IllegalArgumentException](
      Experiment.abScorecard(df, col("arm"), col("m"), control = "x"))
    assert(e.getMessage.contains("control arm 'x' absent"))
    val tiny = Seq(("c", 1L), ("t", 2L), ("t", 3L)).toDF("arm", "m")
    val v = intercept[IllegalArgumentException](
      Experiment.abScorecard(tiny, col("arm"), col("m"), control = "c"))
    assert(v.getMessage.contains("needs a variance"))
    val wide = (1 to 50).flatMap(i => Seq((s"a$i", 1L), (s"a$i", 2L)))
      .toDF("arm", "m")
    intercept[IllegalArgumentException](Experiment.abScorecard(
      wide, col("arm"), col("m"), control = "a1", maxArms = 10))
    // NULL metric and NULL arm rows drop before anything counts them
    val n = Experiment.abScorecard(
        Seq((Some("c"), Some(1L)), (Some("c"), Some(3L)), (Some("c"), None),
          (None, Some(9L)), (Some("t"), Some(2L)), (Some("t"), Some(4L)))
          .toDF("arm", "m"),
        col("arm"), col("m"), control = "c").collect().head
    assert(n.getLong(1) == 2 && n.getLong(2) == 2)
  }

  test("abScorecard: zero-variance arms yield NULL z, not a crash") {
    val df = Seq(("c", 5L), ("c", 5L), ("t", 5L), ("t", 5L)).toDF("arm", "m")
    val r = Experiment.abScorecard(df, col("arm"), col("m"), control = "c")
      .collect().head
    assert(r.isNullAt(7) && r.isNullAt(8))
  }

  test("cupedAdjust: theta is the OLS slope; a perfect covariate zeroes the metric (X110)") {
    // y = 2x exactly: theta = 2e6 and every adjusted value collapses to 0
    // (modulo the dropped arm-independent constant) — maximal variance kill
    val df = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    assert(Experiment.cupedTheta(df, col("y"), col("x")) == 2000000L)
    val adj = Experiment.cupedAdjust(df, col("y"), col("x"))
      .select("adj_micro").as[Long].collect().toSeq
    assert(adj == Seq(0L, 0L, 0L), s"got $adj")
    // an uninformative covariate leaves the metric (almost) untouched:
    // x constant is REFUSED, x orthogonal gives theta 0 -> adj = y
    intercept[IllegalArgumentException](Experiment.cupedTheta(
      Seq((5L, 1L), (5L, 2L)).toDF("x", "y"), col("y"), col("x")))
    val orth = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("x", "y")
    assert(Experiment.cupedTheta(orth, col("y"), col("x")) == 0L)
    assert(Experiment.cupedAdjust(orth, col("y"), col("x"))
      .select("adj_micro").as[Long].collect().toSeq == Seq(7L, 7L, 7L))
    // NULL rows adjust to NULL; budget + reserved guards
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), Some(4L)),
      (None, Some(9L))).toDF("x", "y")
    assert(Experiment.cupedAdjust(withNull, col("y"), col("x"))
      .filter(col("x").isNull).select("adj_micro").collect()(0).isNullAt(0))
    refused("cupedTheta: |metric| or |covariate| > 1e9")(Experiment.cupedTheta(
      Seq((2000000000L, 1L), (1L, 2L)).toDF("x", "y"), col("y"), col("x")))
    intercept[IllegalArgumentException](Experiment.cupedAdjust(
      df.withColumn("adj_micro", col("x")), col("y"), col("x")))
  }

  test("mdeReport: exact sums, IEEE presentation chain, guards (X112)") {
    val df = Seq(("a", 1000000L), ("a", 3000000L),
      ("b", 5L), ("b", 5L), ("b", 5L)).toDF("arm", "m")
    val got = Experiment.mdeReport(df, col("arm"), col("m"))
      .orderBy("arm")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    // arm a: mean 2e6, s² = 2e12 — replicate the documented chain
    val sd = math.sqrt(2e12)
    val mde = math.round(2.801585 * sd * math.sqrt(2.0 / 2))
    assert(got(0) == (("a", 2L, 2000000L, math.round(sd), mde,
      Some(mde * 1000000L / 2000000L))), s"got ${got(0)}")
    // zero-variance arm: sd 0, MDE 0 (detectable at any size), rel 0
    assert(got(1) == (("b", 3L, 5L, 0L, 0L, Some(0L))), s"got ${got(1)}")
    // n=1 arm refused; zero-mean arm yields NULL relative MDE
    intercept[IllegalArgumentException](Experiment.mdeReport(
      Seq(("solo", 1L)).toDF("arm", "m"), col("arm"), col("m")))
    val zm = Experiment.mdeReport(
      Seq(("z", -5L), ("z", 5L)).toDF("arm", "m"), col("arm"), col("m"))
      .select("mean_micro", "mde_rel_micro").collect()(0)
    assert(zm.getLong(0) == 0L && zm.isNullAt(1))
    // determinism under repartition
    assert(Experiment.mdeReport(df.repartition(5), col("arm"), col("m"))
      .orderBy("arm")
      .as[(String, Long, Long, Long, Long, Option[Long])]
      .collect().toSeq == got)
  }

  test("mdeReport: |metric| past √Long.Max squares exactly (overflow boundary)") {
    // 3.2e9² ≈ 1.02e19 > Long.Max — a Long-first square overflows (loud
    // under ANSI); the DECIMAL-first square must survive and stay exact
    val m = 3200000000L
    val got = Experiment.mdeReport(
      Seq(("a", m), ("a", -m)).toDF("arm", "v"), col("arm"), col("v"))
      .as[(String, Long, Long, Long, Long, Option[Long])].collect()(0)
    // n=2, Σ=0, Σ² = 2m² exact ⇒ s² = (2·2m² − 0)/2 = 2m²
    val sd = math.sqrt(2.0 * m.toDouble * m.toDouble)
    val mde = math.round(2.801585 * sd * math.sqrt(2.0 / 2))
    assert(got == (("a", 2L, 0L, math.round(sd), mde, None)), s"got $got")
  }
}
