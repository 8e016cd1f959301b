package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CalibrateSpec extends SparkSpec {
  import spark.implicits._

  /** Independent O(B³) replica of the minimax characterization:
    * fit(i) = max_{j≤i} min_{k≥i} floor-micros(mean over buckets j..k).
    * Floor commutes with min/max, so this IS the PAV fit in micros. */
  private def minimax(buckets: Seq[(Long, Long)]): Seq[Long] =
    buckets.indices.map { i =>
      (0 to i).map { j =>
        (i until buckets.length).map { k =>
          val slice = buckets.slice(j, k + 1)
          val c = slice.map(_._1).sum
          val s = slice.map(_._2).sum
          s * 1000000L / c
        }.min
      }.max
    }

  test("PAV pools violators; fit matches the minimax replica (X77)") {
    // buckets: (score, n, pos) with a deliberate violation at scores 2-3
    val data =
      (1 to 4).map(_ => (1, 0)) ++   // score 1: 0/4
      (1 to 4).map(i => (2, if (i <= 3) 1 else 0)) ++ // score 2: 3/4
      (1 to 4).map(i => (3, if (i <= 1) 1 else 0)) ++ // score 3: 1/4 — violates
      (1 to 4).map(_ => (4, 1))      // score 4: 4/4
    val df = data.toDF("sc", "l")
    val out = Calibrate.isotonicCalibrate(df, col("sc"), col("l"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    // scores 2 and 3 pool to 4/8 = 0.5
    assert(out.map(_._4).toSeq == Seq(0L, 500000L, 500000L, 1000000L),
      s"got ${out.toSeq}")
    assert(out.map(r => (r._2, r._3)).toSeq ==
      Seq((4L, 0L), (4L, 3L), (4L, 1L), (4L, 4L)))
    val expect = minimax(out.map(r => (r._2, r._3)).toSeq)
    assert(out.map(_._4).toSeq == expect)
  }

  test("fit equals minimax on a pseudo-random 12-bucket fixture; monotone; deterministic") {
    // deterministic labels from a hash — no Random, replayable
    val rows = (0 until 600).map { i =>
      val sc = i % 12
      val h = ((i * 2654435761L) >>> 7) % 100
      (sc, if (h < 20 + sc * 6) 1 else 0) // noisy upward trend
    }
    val df = rows.toDF("sc", "l")
    val out = Calibrate.isotonicCalibrate(df, col("sc"), col("l"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    val expect = minimax(out.map(r => (r._2, r._3)).toSeq)
    assert(out.map(_._4).toSeq == expect)
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted) // monotone
    val again = Calibrate.isotonicCalibrate(df.repartition(7), col("sc"),
      col("l")).as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("guards: label domain, bucket cap, empty input, null handling") {
    refused("labels must be 0/1, found 2")(
      Calibrate.isotonicCalibrate(Seq((1, 2)).toDF("sc", "l"),
        col("sc"), col("l")))
    val cap = intercept[IllegalArgumentException](
      Calibrate.isotonicCalibrate(
        (1 to 10).map(i => (i, 1)).toDF("sc", "l"),
        col("sc"), col("l"), maxBuckets = 5))
    assert(cap.getMessage.contains("bucket the score upstream"))
    intercept[IllegalArgumentException](
      Calibrate.isotonicCalibrate(Seq.empty[(Int, Int)].toDF("sc", "l"),
        col("sc"), col("l")))
    // NULL scores and labels drop; a single surviving bucket calibrates
    val n = Calibrate.isotonicCalibrate(
      Seq((Some(1), Some(1)), (Some(1), None), (None, Some(0)))
        .toDF("sc", "l"), col("sc"), col("l"))
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(n == Seq((1, 1L, 1L, 1000000L)))
    intercept[IllegalArgumentException](
      Calibrate.isotonicCalibrate(Seq((1, 1)).toDF("sc", "l"),
        col("sc"), col("l"), maxBuckets = 0))
  }

  test("splitConformal: hand-pinned rank, qhat, and coverage (X83)") {
    // cal residuals {1,3,5,7,9}: alpha=0.4 → k = ⌈6·0.6⌉ = 4 → qhat = 7
    val cal = Seq((0L, 1L), (0L, 3L), (0L, 5L), (0L, 7L), (0L, 9L))
      .toDF("p", "y")
    val test = Seq(("a", 0L, 2L), ("a", 0L, 8L), ("a", 0L, 7L),
      ("b", 0L, 7L)).toDF("g", "p", "y")
    val out = Calibrate.splitConformal(cal, test, col("p"), col("y"),
        alphaMicro = 400000L, groups = Seq("g"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("a", 5L, 4L, 7L, 3L, 2L, 666666L),
      ("b", 5L, 4L, 7L, 1L, 1L, 1000000L)), s"got $out")
    // repartition determinism (order statistics are value-unique)
    val again = Calibrate.splitConformal(cal.repartition(4),
        test.repartition(3), col("p"), col("y"), 400000L, Seq("g"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(again == out)
  }

  test("splitConformal: marginal coverage holds on exchangeable slices") {
    // deterministic 'residual' stream from md5 bytes; cal and test are
    // interleaved slices of the same distribution, so realized coverage
    // must land at or above 1 − α up to binomial noise
    val md = java.security.MessageDigest.getInstance("MD5")
    val vals = (1 to 400).map { i =>
      val h = md.digest(s"cf:$i".getBytes("UTF-8"))
      (i, ((h(0) & 0xff) * 256 + (h(1) & 0xff)).toLong)
    }
    val cal = vals.filter(_._1 % 2 == 0).map(v => (0L, v._2)).toDF("p", "y")
    val test = vals.filter(_._1 % 2 == 1).map(v => ("all", 0L, v._2))
      .toDF("g", "p", "y")
    val row = Calibrate.splitConformal(cal, test, col("p"), col("y"),
        alphaMicro = 100000L, groups = Seq("g"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    assert(row._7 >= 850000L, s"coverage fell below guarantee−noise: $row")
  }

  test("splitConformal: refusals and NULL handling") {
    val cal3 = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("p", "y")
    val test = Seq(("a", 0L, 1L)).toDF("g", "p", "y")
    // alpha=0.1 with n=3 needs rank 4 — the honest interval is infinite
    val e = intercept[IllegalArgumentException](
      Calibrate.splitConformal(cal3, test, col("p"), col("y"), 100000L))
    assert(e.getMessage.contains("infinite"))
    intercept[IllegalArgumentException](
      Calibrate.splitConformal(cal3, test, col("p"), col("y"), 0L))
    intercept[IllegalArgumentException](
      Calibrate.splitConformal(cal3, test, col("p"), col("y"), 1000000L))
    intercept[IllegalArgumentException](Calibrate.splitConformal(
      cal3, test, col("p"), col("y"), 500000L, maxCal = 2))
    // NULL actuals drop from both slices (no residual defined)
    val calN = Seq((Some(0L), Some(1L)), (Some(0L), None), (None, Some(9L)))
      .toDF("p", "y")
    val testN = Seq(("a", Some(0L), Some(1L)), ("a", None, Some(5L)))
      .toDF("g", "p", "y")
    val out = Calibrate.splitConformal(calN, testN, col("p"), col("y"),
        alphaMicro = 600000L, groups = Seq("g"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 1L, 1L, 1L, 1L, 1L, 1000000L)), s"got $out")
  }

  test("quantileCalibrate: step mapping, shared tie ranks, guards (X51)") {
    val df = Seq(("src0", 10L), ("src0", 20L), ("src0", 30L), ("src0", 40L),
      ("srcA", 5L), ("srcA", 6L), ("srcA", 7L), ("srcA", 8L))
      .toDF("source", "q")
    val got = Calibrate.quantileCalibrate(df, col("source"), col("q"), "src0")
      .select("source", "q", "q_cal")
      .as[(String, Long, Long)].collect().toSet
    // srcA's quartiles land on the reference quartile values; the
    // reference maps onto itself (pct → its own score)
    assert(got == Set(("src0", 10L, 10L), ("src0", 20L, 20L),
      ("src0", 30L, 30L), ("src0", 40L, 40L),
      ("srcA", 5L, 10L), ("srcA", 6L, 20L), ("srcA", 7L, 30L),
      ("srcA", 8L, 40L)), s"got $got")
    // ties share a percent_rank → equal scores calibrate equally
    val ties = Seq(("src0", 10L), ("src0", 20L), ("src0", 30L),
      ("srcB", 5L), ("srcB", 5L), ("srcB", 7L)).toDF("source", "q")
    val tied = Calibrate.quantileCalibrate(ties, col("source"), col("q"),
        "src0").filter(col("source") === "srcB")
      .select("q", "q_cal").as[(Long, Long)].collect().toSet
    assert(tied == Set((5L, 10L), (7L, 30L)), s"got $tied")
    // NULL scores drop (unrankable); reserved names and budgets refuse
    val withNull = Seq(("src0", Some(1L)), ("src0", Some(2L)),
      ("srcA", None)).toDF("source", "q")
    assert(Calibrate.quantileCalibrate(withNull, col("source"), col("q"),
      "src0").count() == 2)
    intercept[IllegalArgumentException](Calibrate.quantileCalibrate(
      df.withColumn("pct", lit(1)), col("source"), col("q"), "src0"))
    intercept[IllegalArgumentException](Calibrate.quantileCalibrate(
      df, col("source"), col("q"), "nope"))
    intercept[IllegalArgumentException](Calibrate.quantileCalibrate(
      df, col("source"), col("q"), "src0", maxRef = 2))
    // determinism under repartition
    assert(Calibrate.quantileCalibrate(df.repartition(5), col("source"),
      col("q"), "src0").select("source", "q", "q_cal")
      .as[(String, Long, Long)].collect().toSet == got)
  }

  test("quantileCalibrate: small-ref fast path ≡ bucketed index path (X51)") {
    // a few hundred hashed rows across three sources — big enough to
    // exercise tie runs and step boundaries on both sides of the
    // crossover; the two paths must agree on every single row
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Int): Long = {
      val d = md.digest(s"qc:$i".getBytes("UTF-8"))
      ((d(0) & 0xff) << 8 | (d(1) & 0xff)).toLong / 16 // plenty of ties
    }
    val rows = (1 to 300).map(i =>
      (s"src${i % 3}", h(i))).toDF("source", "q")
    def run(small: Long) = Calibrate.quantileCalibrate(rows, col("source"),
        col("q"), "src0", smallRef = small)
      .select("source", "q", "q_cal")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val fast = run(small = 1000L) // 100 ref rows ≤ 1000 → array probe
    val indexed = run(small = 0L) // forced through stepIndex
    assert(fast == indexed, "fast path drifted from the bucketed index")
  }

  test("quantileCalibrateSketch: ref values, rank agreement, pct reuse (X51⊗X27)") {
    val df = Seq(("src0", 10L), ("src0", 20L), ("src0", 30L), ("src0", 40L),
      ("srcA", 5L), ("srcA", 6L), ("srcA", 7L), ("srcA", 8L))
      .toDF("source", "q")
    val refVals = Set(10L, 20L, 30L, 40L)
    val sk = Calibrate.quantileCalibrateSketch(df, col("source"), col("q"),
        "src0", grid = 100)
      .select("source", "q", "pct", "q_cal_est")
      .as[(String, Long, Double, Long)].collect().toSeq
    // every estimate is a VALUE the sketch retained from the reference
    assert(sk.forall(r => refVals.contains(r._4)), s"got $sk")
    // monotone in pct within a source (a quantile map must be)
    sk.groupBy(_._1).foreach { case (_, rows) =>
      val byPct = rows.sortBy(_._3).map(_._4)
      assert(byPct == byPct.sorted, s"non-monotone: $rows")
    }
    // composition path: running the sketch face over the exact face's
    // output REUSES its pct (no second window, no collision)
    val exact = Calibrate.quantileCalibrate(df, col("source"), col("q"),
      "src0")
    val both = Calibrate.quantileCalibrateSketch(exact, col("source"),
      col("q"), "src0", grid = 100)
    assert(both.columns.count(_ == "pct") == 1)
    // below-k reference: the sketch stores everything, so the two faces
    // agree exactly on every row
    assert(both.filter(col("q_cal") =!= col("q_cal_est")).count() == 0)
    // guards
    intercept[IllegalArgumentException](Calibrate.quantileCalibrateSketch(
      df, col("source"), col("q"), "nope"))
    intercept[IllegalArgumentException](Calibrate.quantileCalibrateSketch(
      df.withColumn("q_cal_est", lit(1)), col("source"), col("q"), "src0"))
    intercept[IllegalArgumentException](Calibrate.quantileCalibrateSketch(
      df, col("source"), col("q"), "src0", grid = 1))
  }

  test("calibrationReport: hand bins with symmetric gaps, exact Brier, " +
      "perfect-calibration zero, edge bin, guards (X165)") {
    // 2 bins: low bin over-observes (+0.3), high bin under-observes
    // (-0.3); Brier = (1e10 + 4.9e11 + 1e10 + 4.9e11)/(4e6) = 250000
    val df = Seq(("f", 100000L, 0L), ("f", 300000L, 1L),
      ("f", 900000L, 1L), ("f", 700000L, 0L)).toDF("fam", "p", "y")
    val got = Calibrate.calibrationReport(df, Seq("fam"), col("p"),
        col("y"), bins = 2).orderBy("bin")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("f", 0L, 2L, 200000L, 500000L, 300000L, 250000L),
      ("f", 1L, 2L, 800000L, 500000L, -300000L, 250000L)), s"got $got")
    // perfectly calibrated endpoints: zero gaps, zero Brier; p = 1e6
    // lands in the LAST bin (the stated edge clamp)
    val perfect = Calibrate.calibrationReport(
      Seq(("f", 0L, 0L), ("f", 1000000L, 1L)).toDF("fam", "p", "y"),
      Seq("fam"), col("p"), col("y"), bins = 10).orderBy("bin")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(perfect == Seq(("f", 0L, 1L, 0L, 0L, 0L, 0L),
      ("f", 9L, 1L, 1000000L, 1000000L, 0L, 0L)), s"got $perfect")
    // out-of-range probability and non-binary label refuse
    refused("pipeline bug")(
      Calibrate.calibrationReport(
        Seq(("f", 1200000L, 1L)).toDF("fam", "p", "y"), Seq("fam"),
        col("p"), col("y")).collect())
    refused("pipeline bug")(Calibrate.calibrationReport(
      Seq(("f", 500000L, 2L)).toDF("fam", "p", "y"), Seq("fam"),
      col("p"), col("y")).collect())
    // a FRACTIONAL label refuses too — it must not truncate to 0/1 and
    // slip past the refusal (ADVICE r17)
    refused("pipeline bug")(Calibrate.calibrationReport(
      Seq(("f", 500000L, 0.5)).toDF("fam", "p", "y"), Seq("fam"),
      col("p"), col("y")).collect())
    // determinism under repartition
    assert(Calibrate.calibrationReport(df.repartition(5), Seq("fam"),
      col("p"), col("y"), bins = 2).orderBy("bin")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq == got)
  }
}
