package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TimeSeriesSpec extends SparkSpec {

  import spark.implicits._

  private def ts(h: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:30:00")
  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")

  test("gapFill emits every bucket in each key's range, zeros where asked") {
    val events = Seq(
      ("a", ts(1), 10.0), ("a", ts(1), 20.0), ("a", ts(4), 5.0), // a: gap at 2,3
      ("b", ts(2), 1.0)                                          // b: single bucket
    ).toDF("k", "t", "v")
    val out = TimeSeries.gapFill(events, Seq("k"), "t", "1 hour",
        Seq("n" -> count(lit(1)), "total" -> Ops.sumDec(col("v"))),
        fill = Map("n" -> lit(0L)))
      .orderBy("k", "bucket")
      .select(col("k"), hour(col("bucket")).as("h"), col("n"), col("total"))
      .as[(String, Int, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      ("a", 1, 2L, Some(30.0)),
      ("a", 2, 0L, None), // gap: count fills 0, gauge stays null
      ("a", 3, 0L, None),
      ("a", 4, 1L, Some(5.0)),
      ("b", 2, 1L, Some(1.0))))
  }

  test("gapFill: null key is a real group; null ts rows are ignored") {
    val events = Seq(
      (Some("a"), Some(ts(1))), (None, Some(ts(1))), (None, Some(ts(3))),
      (Some("a"), None) // no bucket — ignored
    ).toDF("k", "t")
    val out = TimeSeries.gapFill(events, Seq("k"), "t", "1 hour",
        Seq("n" -> count(lit(1))), fill = Map("n" -> lit(0L)))
      .orderBy("k", "bucket")
      .select(col("k"), hour(col("bucket")).as("h"), col("n"))
      .as[(Option[String], Int, Long)].collect().toSeq
    // null-key group spans hours 1..3 with a gap at 2; "a" has hour 1 only
    assert(out == Seq(
      (None, 1, 1L), (None, 2, 0L), (None, 3, 1L), (Some("a"), 1, 1L)))
    intercept[IllegalArgumentException](
      TimeSeries.gapFill(events, Seq("k"), "t", "1 hour", Seq.empty))
    intercept[IllegalArgumentException](
      TimeSeries.gapFill(events, Seq("k"), "t", "1 hour",
        Seq("n" -> count(lit(1))), fill = Map("zzz" -> lit(0))))
  }

  test("locf carries forward per key; leading nulls stay; tie-break fixed (X55)") {
    val rows = Seq(
      ("u", 1L, 1L, Option.empty[Double]), // leading null: stays null
      ("u", 2L, 2L, Some(5.0)),
      ("u", 3L, 3L, None),                 // -> 5.0
      ("u", 4L, 4L, Some(7.0)),
      ("u", 5L, 5L, None),                 // -> 7.0
      // same-ts pair: tie-break on id makes id=7's null take id=6's 9.0
      ("u", 6L, 6L, Some(9.0)), ("u", 6L, 7L, None),
      ("w", 1L, 8L, None)                  // other key: isolated
    ).toDF("k", "t", "id", "v")
    val out = TimeSeries.locf(rows, Seq("k"), "t", Seq("v"),
        tieBreak = Seq("id"))
      .orderBy("id").select("id", "v")
      .as[(Long, Option[Double])].collect().toSeq
    assert(out == Seq(1L -> None, 2L -> Some(5.0), 3L -> Some(5.0),
      4L -> Some(7.0), 5L -> Some(7.0), 6L -> Some(9.0), 7L -> Some(9.0),
      8L -> None))
    intercept[IllegalArgumentException](
      TimeSeries.locf(rows, Seq("k"), "t", Seq.empty))
  }

  test("rollingOutliers: trailing-frame identity, self-exclusion, minObs gate (X56)") {
    // key u: nine 100s then a 500 spike then another 100.
    val rows = ((1 to 9).map(i => ("u", i.toLong, 100L)) ++
      Seq(("u", 10L, 500L), ("u", 11L, 100L))).toDF("k", "t", "cents")
    val out = TimeSeries.rollingOutliers(rows, Seq("k"), "t", col("cents"),
        lookback = 8, k = 3, minObs = 4)
      .orderBy("t").select("t", "is_outlier")
      .as[(Long, Option[Boolean])].collect().toMap
    // rows 1..4: fewer than 4 trailing obs -> null (unknown)
    assert(out(1L).isEmpty && out(4L).isEmpty)
    // row 9 against eight identical 100s: zero variance, not above -> false
    assert(out(9L).contains(false))
    // the spike against a flat baseline: (n·x−S)² > 0 = k²·0 -> true
    assert(out(10L).contains(true))
    // row 11 is a 100 against a baseline CONTAINING the 500 — still inside
    // 3σ of that inflated-variance window -> false (and crucially row 10's
    // own spike never judged itself: self-exclusion)
    assert(out(11L).contains(false))
    intercept[IllegalArgumentException](
      TimeSeries.rollingOutliers(rows, Seq("k"), "t", col("cents"),
        lookback = 1, k = 3))
    intercept[IllegalArgumentException](
      TimeSeries.rollingOutliers(rows, Seq("k"), "t", col("cents"),
        lookback = 8, k = 3, minObs = 9))
  }

  test("assembleSessions: gap split, typed tie-break, null-ts dropped (X57)") {
    val rows = Seq(
      (Some(ts(1)), "u", 1L, "view"),
      // same instant, ids 9 and 10: a STRING sort would put 10 before 9
      (Some(ts(1)), "u", 10L, "buy"),
      (Some(ts(1)), "u", 9L, "click"),
      // 29-minute gap from 01:30 (< 1h): same session
      (Some(ts(1, 59)), "u", 11L, "leave"),
      // EXACTLY 1h after that: still the same session — touching sessions
      // merge (the session_window boundary convention)
      (Some(ts(2, 59)), "u", 12L, "linger"),
      // 1h 1min after that: strictly beyond the gap -> NEW session
      (Some(ts(4, 0)), "u", 16L, "return"),
      (Option.empty[java.sql.Timestamp], "u", 13L, "ghost"), // null ts: dropped
      (Some(ts(1)), "w", 14L, "solo"),
      // null token keeps its slot as "" — n_events matches transcript
      (Some(ts(1)), "w", 15L, null.asInstanceOf[String])
    ).toDF("t", "k", "id", "ev")
    val out = TimeSeries.assembleSessions(rows, Seq("k"), "t",
        gapSeconds = 3600L, token = col("ev"), tieBreak = Seq("id"))
      .orderBy("k", "session_start")
      .select("k", "n_events", "transcript")
      .as[(String, Long, String)].collect().toSeq
    assert(out == Seq(
      ("u", 5L, "view > click > buy > leave > linger"),
      ("u", 1L, "return"),
      ("w", 2L, "solo > ")))
    intercept[IllegalArgumentException](
      TimeSeries.assembleSessions(rows, Seq("k"), "t", 0L, col("ev")))
  }

  test("funnelLevels: max-over-starts, strict ordering, window from chain start (X73)") {
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      // u1: clean 3-step chain inside the window
      (1L, t(0), "view"), (1L, t(10), "click"), (1L, t(20), "purchase"),
      // u2: the chain from the EARLIEST view dies (click at 200 > 0+100),
      // but a later start at 150 completes — max-over-starts must find it
      (2L, t(0), "view"), (2L, t(150), "view"),
      (2L, t(200), "click"), (2L, t(210), "purchase"),
      // u3: click simultaneous with view — strict ordering rejects it
      (3L, t(0), "view"), (3L, t(0), "click"),
      // u4: never enters the funnel (no view) → absent from the output
      (4L, t(0), "click"), (4L, t(10), "purchase"),
      // u5: skips the middle step — purchase without click can't count
      (5L, t(0), "view"), (5L, t(10), "purchase")
    ).toDF("u", "t", "et")
    val lv = TimeSeries.funnelLevels(ev, col("u"), col("t"), col("et"),
        Seq("view", "click", "purchase"), windowSec = 100)
      .as[(Long, Int)].collect().toMap
    assert(lv == Map(1L -> 3, 2L -> 3, 3L -> 1, 5L -> 1), s"got $lv")
    // repeated step types: two DISTINCT view events chain; one does not
    val rep = TimeSeries.funnelLevels(ev, col("u"), col("t"), col("et"),
        Seq("view", "view"), windowSec = 1000)
      .as[(Long, Int)].collect().toMap
    assert(rep(2L) == 2 && rep(1L) == 1 && rep(3L) == 1, s"got $rep")
    // the window binds the WHOLE chain to the start, not step-to-step gaps:
    // 0 → 90 → 180 has every gap ≤ 100 but spans 180 > 100
    val span = Seq((9L, t(0), "view"), (9L, t(90), "click"),
        (9L, t(180), "purchase")).toDF("u", "t", "et")
    val sp = TimeSeries.funnelLevels(span, col("u"), col("t"), col("et"),
        Seq("view", "click", "purchase"), windowSec = 100)
      .as[(Long, Int)].collect().toMap
    assert(sp == Map(9L -> 2), s"got $sp")
    intercept[IllegalArgumentException](TimeSeries.funnelLevels(
      ev, col("u"), col("t"), col("et"), Seq("view"), 100))
    intercept[IllegalArgumentException](TimeSeries.funnelLevels(
      ev, col("u"), col("t"), col("et"), Seq("view", "click"), 0))
  }

  test("cohortRetention: triangle counts, cohort size, rate micros (X76)") {
    // period = 100 s buckets; epoch seconds chosen to pin the boundaries
    def at(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      // u1: first in period 0, back in 1 and 3; duplicate activity in 0
      (1L, at(10)), (1L, at(95)), (1L, at(150)), (1L, at(399)),
      // u2: first in period 0, never back
      (2L, at(50)),
      // u3: first in period 1, back in 2
      (3L, at(101)), (3L, at(250))
    ).toDF("u", "t")
    val out = TimeSeries.cohortRetention(ev, col("u"), col("t"), 100L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 2L, 2L, 1000000L), // both u1 and u2 active in their first period
      (0L, 1L, 1L, 2L, 500000L),  // only u1 returns
      (0L, 3L, 1L, 2L, 500000L),
      (1L, 0L, 1L, 1L, 1000000L),
      (1L, 1L, 1L, 1L, 1000000L)), s"got $out")
    // determinism under re-partitioning
    val again = TimeSeries.cohortRetention(ev.repartition(5), col("u"),
      col("t"), 100L).as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(again == out)
    // NULL users and timestamps drop; all-null input yields empty
    val withNulls = Seq((Some(4L), Option.empty[Timestamp]),
      (Option.empty[Long], Some(at(10)))).toDF("u", "t")
    assert(TimeSeries.cohortRetention(withNulls, col("u"), col("t"), 100L)
      .count() == 0)
    // pre-1970 timestamps are refused, not mis-bucketed
    val pre = Seq((1L, at(-5))).toDF("u", "t")
    refused("pre-1970")(
      TimeSeries.cohortRetention(pre, col("u"), col("t"), 100L).collect())
    intercept[IllegalArgumentException](
      TimeSeries.cohortRetention(ev, col("u"), col("t"), 0L))
  }

  test("cusum: prefix-min form equals the clamped recursion; per-key; alarms (X80)") {
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // k=20, h=40 (micros below): x = 10,10,50,50,10 → S = 0,0,30,60,50
    val df = (Seq(10, 10, 50, 50, 10).zipWithIndex.map { case (x, i) =>
      ("a", at(i * 60L), x.toDouble) } ++
      Seq(("b", at(0L), 100.0))) // key isolation: b starts fresh
      .toDF("k", "t", "x")
    val out = TimeSeries.cusum(df, Seq("k"), "t", col("x"),
        kMicro = 20000000L, hMicro = 40000000L)
      .select("k", "t", "s_micro", "alarm")
      .as[(String, Timestamp, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2.getTime)).toSeq
    assert(out.filter(_._1 == "a").map(_._3) ==
      Seq(0L, 0L, 30000000L, 60000000L, 50000000L))
    assert(out.filter(_._1 == "a").map(_._4) ==
      Seq(false, false, false, true, true))
    assert(out.filter(_._1 == "b").map(_._3) == Seq(80000000L))
    // independent clamped-recursion replica on a longer hash-derived series
    val xs = (0 until 40).map(i => (((i * 2654435761L) >>> 9) % 50).toDouble)
    val ser = xs.zipWithIndex.map { case (x, i) => ("s", at(i.toLong), x) }
      .toDF("k", "t", "x")
    val got = TimeSeries.cusum(ser, Seq("k"), "t", col("x"), 25000000L,
        90000000L).orderBy("t")
      .select("s_micro").as[Long].collect().toSeq
    val expect = xs.scanLeft(0L)((s, x) =>
      math.max(0L, s + math.round(x * 1e6) - 25000000L)).tail
    assert(got == expect)
    // determinism under repartition
    val again = TimeSeries.cusum(ser.repartition(5), Seq("k"), "t",
        col("x"), 25000000L, 90000000L).orderBy("t")
      .select("s_micro").as[Long].collect().toSeq
    assert(again == got)
    // guards: NULL value refused, h positive
    val withNull = Seq(("a", at(0L), Some(1.0)), ("a", at(1L), None))
      .toDF("k", "t", "x")
    refused("NULL value")(
      TimeSeries.cusum(withNull, Seq("k"), "t", col("x"), 1L, 1L).collect())
    intercept[IllegalArgumentException](
      TimeSeries.cusum(df, Seq("k"), "t", col("x"), 1L, 0L))
  }

  private def attrib(df: org.apache.spark.sql.DataFrame, model: String,
      lookbackSec: Long = 1000L) =
    TimeSeries.attributeConversions(df, col("u"), col("t"), col("ch"),
        col("ch") === "buy", lookbackSec, model)
      .select(col("user"), col("channel"),
        unix_micros(col("touch_ts")).as("tus"), col("credit_micro"))
      .as[(Long, String, Option[Long], Long)].collect().toSet

  test("attributeConversions: U-shape, linear remainder, first/last (X82)") {
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // u1: 4 touches then a conversion; u2: 3 touches (linear remainder);
    // u3: direct (its only touch is AT the conversion instant — excluded)
    val ev = Seq(
      (1L, at(10), "view"), (1L, at(20), "click"), (1L, at(30), "view"),
      (1L, at(40), "signup"), (1L, at(100), "buy"),
      (2L, at(11), "view"), (2L, at(12), "click"), (2L, at(13), "view"),
      (2L, at(90), "buy"),
      (3L, at(50), "click"), (3L, at(50), "buy")
    ).toDF("u", "t", "ch")
    val us = 1000000L
    assert(attrib(ev, "position") == Set(
      (1L, "view", Some(10 * us), 400000L),
      (1L, "click", Some(20 * us), 100000L),
      (1L, "view", Some(30 * us), 100000L),
      (1L, "signup", Some(40 * us), 400000L),
      (2L, "view", Some(11 * us), 400000L),
      (2L, "click", Some(12 * us), 200000L), // n=3: one interior touch
      (2L, "view", Some(13 * us), 400000L),
      (3L, "(direct)", None, 1000000L)))
    val lin = attrib(ev, "linear")
    // u2: 1e6 DIV 3 = 333333 each, remainder 1 to the LAST touch
    assert(lin.contains((2L, "view", Some(13 * us), 333334L)) &&
      lin.contains((2L, "click", Some(12 * us), 333333L)), s"got $lin")
    assert(lin.toSeq.filter(_._1 == 2L).map(_._4).sum == 1000000L)
    assert(attrib(ev, "last").filter(_._1 == 1L) ==
      Set((1L, "signup", Some(40 * us), 1000000L)))
    assert(attrib(ev, "first").filter(_._1 == 1L) ==
      Set((1L, "view", Some(10 * us), 1000000L)))
  }

  test("attributeConversions: lookback bounds, per-conversion windows, determinism") {
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // touch at t=10 is outside the 50 s lookback of the t=100 conversion;
    // two conversions each attribute over their OWN window
    val ev = Seq(
      (1L, at(10), "view"), (1L, at(60), "click"),
      (1L, at(100), "buy"), (1L, at(160), "buy")
    ).toDF("u", "t", "ch")
    val got = attrib(ev, "last", lookbackSec = 50L)
    assert(got == Set(
      (1L, "click", Some(60000000L), 1000000L), // conv@100 sees only t=60
      (1L, "(direct)", None, 1000000L)),        // conv@160 window [110,160) empty
      s"got $got")
    // credits always sum to exactly 1e6 per conversion, any model
    for (m <- Seq("last", "first", "linear", "position")) {
      val per = TimeSeries.attributeConversions(ev.repartition(5), col("u"),
          col("t"), col("ch"), col("ch") === "buy", 50L, m)
        .groupBy("user", "conv_ts").agg(sum("credit_micro").as("s"))
        .select("s").as[Long].collect()
      assert(per.forall(_ == 1000000L), s"$m: $per")
    }
    intercept[IllegalArgumentException](attrib(ev, "even"))
    intercept[IllegalArgumentException](attrib(ev, "last", lookbackSec = 0L))
  }

  test("interpolateGrid: hand-pinned blends, on-grid exactness, clipping (X91)") {
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // key a: obs at 10s→100µ, 40s→400µ; grid step 10s → instants 10,20,30,40
    // key b: single obs → one grid instant, exact
    val obs = Seq(("a", at(10), 100L), ("a", at(40), 400L),
      ("b", at(20), 7L)).toDF("k", "t", "v")
    val out = TimeSeries.interpolateGrid(obs, Seq("k"), "t", col("v"), 10L)
      .as[(String, Long, Long, Boolean)].collect().toSet
    val us = 1000000L
    assert(out == Set(
      ("a", 10 * us, 100L, false),
      ("a", 20 * us, 200L, true),
      ("a", 30 * us, 300L, true),
      ("a", 40 * us, 400L, false),
      ("b", 20 * us, 7L, false)), s"got $out")
    // no extrapolation: nothing before 10 s or after 40 s exists; floor
    // blend pinned on a non-divisible gap (obs 0→10 at 0s/3s, grid 1s...)
    val odd = Seq(("c", at(0), 0L), ("c", at(3), 10L)).toDF("k", "t", "v")
    val o2 = TimeSeries.interpolateGrid(odd, Seq("k"), "t", col("v"), 1L)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(o2 == Set(("c", 0L, 0L, false), ("c", 1 * us, 3L, true),
      ("c", 2 * us, 6L, true), ("c", 3 * us, 10L, false)), s"got $o2")
    // determinism under repartition
    val again = TimeSeries.interpolateGrid(obs.repartition(5), Seq("k"),
      "t", col("v"), 10L).as[(String, Long, Long, Boolean)].collect().toSet
    assert(again == out)
  }

  test("interpolateGrid: refusals — duplicates, pre-1970, step; NULL drop") {
    def at(sec: Long) = new Timestamp(sec * 1000L)
    val dup = Seq(("a", at(10), 1L), ("a", at(10), 2L)).toDF("k", "t", "v")
    val e = intercept[IllegalArgumentException](
      TimeSeries.interpolateGrid(dup, Seq("k"), "t", col("v"), 10L))
    assert(e.getMessage.contains("duplicate"))
    val pre = Seq(("a", at(-5), 1L)).toDF("k", "t", "v")
    refused("interpolateGrid: pre-1970 timestamp")(
      TimeSeries.interpolateGrid(pre, Seq("k"), "t", col("v"), 10L).collect())
    val ok = Seq(("a", at(10), 1L)).toDF("k", "t", "v")
    intercept[IllegalArgumentException](
      TimeSeries.interpolateGrid(ok, Seq("k"), "t", col("v"), 0L))
    // NULL ts/value rows drop before anything else sees them
    val withNull = Seq(("a", Some(at(10)), Some(10L)),
      ("a", Option.empty[Timestamp], Some(5L)), ("a", Some(at(30)), None),
      ("a", Some(at(20)), Some(20L))).toDF("k", "t", "v")
    val got = TimeSeries.interpolateGrid(withNull, Seq("k"), "t", col("v"), 10L)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(got == Set(("a", 10000000L, 10L, false),
      ("a", 20000000L, 20L, false)), s"got $got")
  }

  test("rollingActive: hand-pinned WAU, window-1 identity, clipping (X98)") {
    def at(day: Long) = new Timestamp(day * 86400000L)
    // u1 active days 0,1,5; u2 day 1; u3 day 5 — 3-day trailing window:
    // day 0: {u1}=1; day 1: {u1,u2}=2; day 5: {u1,u3}=2 (day 1 aged out);
    // days 2,3 not observed → absent even though u1's day-1 row projects
    val ev = Seq((1L, at(0)), (1L, at(1)), (1L, at(5)),
      (2L, at(1)), (3L, at(5)),
      (1L, at(1))) // duplicate activity same day: counts once
      .toDF("u", "t")
    val got = TimeSeries.rollingActive(ev, col("u"), col("t"), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 2L, 5L -> 2L), s"got $got")
    // window 1 == plain daily distinct
    val daily = TimeSeries.rollingActive(ev, col("u"), col("t"), 1)
      .as[(Long, Long)].collect().toMap
    assert(daily == Map(0L -> 1L, 1L -> 2L, 5L -> 2L), s"got $daily")
    // a wider window bridges the gap: day 5 sees u1(d5),u3(d5) plus
    // nothing from d1 at W=3 but u1,u2 from d1 at W=5
    val wide = TimeSeries.rollingActive(ev, col("u"), col("t"), 5)
      .as[(Long, Long)].collect().toMap
    assert(wide(5L) == 3L, s"got $wide")
    // determinism + refusals + NULL drop
    assert(TimeSeries.rollingActive(ev.repartition(5), col("u"), col("t"), 3)
      .as[(Long, Long)].collect().toMap == got)
    intercept[IllegalArgumentException](
      TimeSeries.rollingActive(ev, col("u"), col("t"), 0))
    refused("rollingActive: pre-1970 timestamp")(TimeSeries.rollingActive(
      Seq((1L, at(-2))).toDF("u", "t"), col("u"), col("t"), 3).collect())
    assert(TimeSeries.rollingActive(
      Seq((Option.empty[Long], Some(at(1)))).toDF("u", "t"),
      col("u"), col("t"), 3).count() == 0)
  }

  test("rollingActiveSketch: equals the exact face at sparse cardinalities (X98×X27)") {
    def at(day: Long) = new Timestamp(day * 86400000L)
    val ev = Seq((1L, at(0)), (1L, at(1)), (1L, at(5)),
      (2L, at(1)), (3L, at(5)), (1L, at(1))).toDF("u", "t")
    // HLL is EXACT in sparse mode (far below 2^lgK distinct keys), so the
    // hand fixture pins value equality with the exact face — including
    // the clipping and aging-out behavior riding the same identity
    for (w <- Seq(1, 3, 5)) {
      val exact = TimeSeries.rollingActive(ev, col("u"), col("t"), w)
        .as[(Long, Long)].collect().toMap
      val est = TimeSeries.rollingActiveSketch(ev, col("u"), col("t"), w)
        .as[(Long, Long)].collect().toMap
      assert(est == exact, s"W=$w: sketch $est vs exact $exact")
    }
    // determinism under repartition + guards
    val once = TimeSeries.rollingActiveSketch(ev, col("u"), col("t"), 3)
      .as[(Long, Long)].collect().toMap
    assert(TimeSeries.rollingActiveSketch(ev.repartition(5), col("u"),
      col("t"), 3).as[(Long, Long)].collect().toMap == once)
    intercept[IllegalArgumentException](
      TimeSeries.rollingActiveSketch(ev, col("u"), col("t"), 0))
    intercept[IllegalArgumentException](
      TimeSeries.rollingActiveSketch(ev, col("u"), col("t"), 3, lgK = 2))
    refused("rollingActiveSketch: pre-1970 timestamp")(TimeSeries.rollingActiveSketch(
      Seq((1L, at(-2))).toDF("u", "t"), col("u"), col("t"), 3).collect())
  }

  test("calendarPeriod + cohortRetentionCalendar: engine-shared buckets (X76)") {
    def ts(s: String) = Timestamp.valueOf(s)
    // period hand-pins: months/quarters since 1970, Monday-start weeks
    val probe = Seq(
      ts("1970-01-01 00:00:00"), ts("1970-02-15 12:00:00"),
      ts("1971-01-01 00:00:00"), ts("1970-01-04 23:59:59"),
      ts("1970-01-05 00:00:00"), ts("1970-04-01 00:00:00")).toDF("t")
    val got = probe.select(
      TimeSeries.calendarPeriod(col("t"), "month").as("m"),
      TimeSeries.calendarPeriod(col("t"), "quarter").as("q"),
      TimeSeries.calendarPeriod(col("t"), "week").as("w"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 0L),   // epoch day (Thursday) opens month 0 / Q0 / week 0
      (1L, 0L, 6L),   // Feb 1970; 45 days in → week (44+3)/7 = 6
      (12L, 4L, 52L), // one year on: month 12, Q4, week (365+3)/7 = 52
      (0L, 0L, 0L),   // Sunday Jan 4 closes week 0
      (0L, 0L, 1L),   // Monday Jan 5 opens week 1 — the ISO boundary
      (3L, 1L, 13L))) // April 1 = epoch day 90 → Q1, week (90+3)/7 = 13
    // a two-month cohort triangle: u1 first in Jan, back in Feb; u2 Feb
    val ev = Seq((1L, ts("1970-01-10 00:00:00")),
      (1L, ts("1970-02-20 00:00:00")), (1L, ts("1970-02-21 00:00:00")),
      (2L, ts("1970-02-01 00:00:00"))).toDF("u", "t")
    val tri = TimeSeries.cohortRetentionCalendar(ev, col("u"), col("t"), "month")
      .orderBy("cohort", "offset")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(tri == Seq(
      (0L, 0L, 1L, 1L, 1000000L),  // Jan cohort: u1
      (0L, 1L, 1L, 1L, 1000000L),  // u1 retained in Feb (dup day collapses)
      (1L, 0L, 1L, 1L, 1000000L)), // Feb cohort: u2
      s"got $tri")
    // guards: unknown unit, pre-1970
    intercept[IllegalArgumentException](
      TimeSeries.calendarPeriod(col("t"), "fortnight"))
    refused("cohortRetentionCalendar: pre-1970 timestamp")(TimeSeries.cohortRetentionCalendar(
      Seq((1L, Timestamp.valueOf("1969-12-31 23:59:59"))).toDF("u", "t"),
      col("u"), col("t"), "month").collect())
    // determinism under repartition
    assert(TimeSeries.cohortRetentionCalendar(ev.repartition(5), col("u"),
        col("t"), "month").orderBy("cohort", "offset")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq == tri)
  }

  test("pathNgrams: consecutive grams, walker counts, bounded top-k (X102)") {
    def at(m: Int) = new Timestamp(m * 60000L)
    val ev = Seq(
      (1L, at(0), 10L, "a"), (1L, at(1), 11L, "b"), (1L, at(2), 12L, "c"),
      (1L, at(3), 13L, "d"),
      (2L, at(0), 20L, "a"), (2L, at(5), 21L, "b"), (2L, at(9), 22L, "c"))
      .toDF("u", "t", "eid", "s")
    val got = TimeSeries.pathNgrams(ev, col("u"), col("t"), col("s"), n = 3,
        tieBreak = Seq("eid"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a > b > c", 2L, 2L), ("b > c > d", 1L, 1L)),
      s"got $got")
    // same-instant ties order by the tie-break; n=2 grams; top-k cut
    val tied = Seq((1L, at(0), 2L, "y"), (1L, at(0), 1L, "x")).toDF("u", "t", "eid", "s")
    val g2 = TimeSeries.pathNgrams(tied, col("u"), col("t"), col("s"), 2,
      Seq("eid")).as[(String, Long, Long)].collect().toSeq
    assert(g2 == Seq(("x > y", 1L, 1L)), s"got $g2")
    val cut = TimeSeries.pathNgrams(ev, col("u"), col("t"), col("s"), 3,
      Seq("eid"), topK = 1).as[(String, Long, Long)].collect().toSeq
    assert(cut == Seq(("a > b > c", 2L, 2L)))
    // determinism + guards
    assert(TimeSeries.pathNgrams(ev.repartition(5), col("u"), col("t"),
      col("s"), 3, Seq("eid")).as[(String, Long, Long)]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](
      TimeSeries.pathNgrams(ev, col("u"), col("t"), col("s"), 3, Nil))
    intercept[IllegalArgumentException](
      TimeSeries.pathNgrams(ev, col("u"), col("t"), col("s"), 1, Seq("eid")))
  }

  test("seasonalNaiveBacktest: join-shift forecast, gaps unevaluated (X109)") {
    // y_p = (p+1)·1e6 over p = 0..9, season 3: every eval error is 3e6
    val full = (0 to 9).map(p => ("g", p.toLong, (p + 1) * 1000000L))
      .toDF("grp", "p", "y")
    val got = TimeSeries.seasonalNaiveBacktest(full, Seq("grp"), col("p"),
        col("y"), season = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // mape = Σ per-row floors (750000+600000+500000+428571+375000+
    // 333333+300000) DIV 7 = 469557
    assert(got == Seq(("g", 7L, 3000000L, 3000000L, 7L, 469557L)),
      s"got $got")
    // a GAP leaves its period and its season-shifted dependent
    // unevaluated (row-lag would silently mis-align here)
    val gapped = full.filter(col("p") =!= 5L)
    val g2 = TimeSeries.seasonalNaiveBacktest(gapped, Seq("grp"), col("p"),
        col("y"), season = 3)
      .select("n_eval").as[Long].collect()(0)
    assert(g2 == 5L, s"expected p∈{3,4,6,7,9}, got n_eval=$g2")
    // negative bias truncates shared-semantics; zero actuals leave MAPE
    val falling = Seq(("g", 0L, 9000000L), ("g", 1L, 0L),
      ("g", 3L, 2000000L), ("g", 4L, 0L)).toDF("grp", "p", "y")
    val g3 = TimeSeries.seasonalNaiveBacktest(falling, Seq("grp"), col("p"),
        col("y"), season = 3)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    // eval rows: p=3 (e = −7e6, y≠0), p=4 (e = 0, y=0 → out of MAPE)
    assert(g3 == Seq(("g", 2L, 3500000L, -3500000L, 1L, Some(3500000L))),
      s"got $g3")
    // determinism + guards
    assert(TimeSeries.seasonalNaiveBacktest(full.repartition(5),
      Seq("grp"), col("p"), col("y"), 3)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq == got)
    intercept[IllegalArgumentException](TimeSeries.seasonalNaiveBacktest(
      full.unionAll(Seq(("g", 0L, 1L)).toDF("grp", "p", "y")),
      Seq("grp"), col("p"), col("y"), 3))
    intercept[IllegalArgumentException](TimeSeries.seasonalNaiveBacktest(
      full, Seq("grp"), col("p"), col("y"), 0))
  }

  test("sesBacktest: hand trajectory, alpha edges, guards (X120)") {
    import spark.implicits._
    // α = 0.5: ℓ₁ = 1000000; f₂ = 1000000, ℓ₂ = (500000·3000000 +
    // 500000·1000000) DIV 1e6 = 2000000; f₃ = 2000000, ℓ₃ = 2000000
    val df = Seq(("g", 1L, 1000000L), ("g", 2L, 3000000L),
      ("g", 3L, 2000000L)).toDF("grp0", "p0", "y0")
    val got = TimeSeries.sesBacktest(df, col("grp0"), col("p0"), col("y0"),
        alphaMicro = 500000L)
      .orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    assert(got == Seq(
      ("g", 1L, 1000000L, None, None, 1000000L),
      ("g", 2L, 3000000L, Some(1000000L), Some(2000000L), 2000000L),
      ("g", 3L, 2000000L, Some(2000000L), Some(0L), 2000000L)), s"got $got")
    // α = 1e6 is pure naive (level = last value); groups independent;
    // negative metrics ride the truncating division without drift
    val multi = Seq(("a", 1L, -3L), ("a", 2L, -8L),
      ("b", 1L, 100L)).toDF("grp0", "p0", "y0")
    val m = TimeSeries.sesBacktest(multi, col("grp0"), col("p0"), col("y0"),
        alphaMicro = 1000000L)
      .orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    assert(m == Seq(("a", 1L, -3L, None, None, -3L),
      ("a", 2L, -8L, Some(-3L), Some(-5L), -8L),
      ("b", 1L, 100L, None, None, 100L)), s"got $m")
    // determinism under repartition; duplicate-period and alpha refusals
    assert(TimeSeries.sesBacktest(df.repartition(5), col("grp0"), col("p0"),
      col("y0"), 500000L).orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](TimeSeries.sesBacktest(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L))
    intercept[IllegalArgumentException](TimeSeries.sesBacktest(
      df, col("grp0"), col("p0"), col("y0"), 0L))
    intercept[IllegalArgumentException](TimeSeries.sesBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, maxSteps = 2))
  }

  test("holtBacktest: hand trajectory, SES/naive degeneracy pins, guards (X124)") {
    import spark.implicits._
    // α = β = 0.5: ℓ₁ = 1000000, b₁ = 0
    // t2: f = 1000000; ℓ = (.5·3000000 + .5·1000000) = 2000000;
    //     b = (.5·(2000000−1000000) + .5·0) = 500000
    // t3: f = 2500000; ℓ = (.5·2000000 + .5·2500000) = 2250000;
    //     b = (.5·(2250000−2000000) + .5·500000) = 375000
    val df = Seq(("g", 1L, 1000000L), ("g", 2L, 3000000L),
      ("g", 3L, 2000000L)).toDF("grp0", "p0", "y0")
    def run(d: org.apache.spark.sql.DataFrame, a: Long, b: Long) =
      TimeSeries.holtBacktest(d, col("grp0"), col("p0"), col("y0"), a, b)
        .orderBy("grp", "p")
        .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
        .collect().toSeq
    val got = run(df, 500000L, 500000L)
    assert(got == Seq(
      ("g", 1L, 1000000L, None, None, 1000000L, 0L),
      ("g", 2L, 3000000L, Some(1000000L), Some(2000000L), 2000000L, 500000L),
      ("g", 3L, 2000000L, Some(2500000L), Some(-500000L), 2250000L, 375000L)),
      s"got $got")
    // β = 0 degeneracy: trend stays 0 and the fold IS sesBacktest
    val ses = TimeSeries.sesBacktest(df, col("grp0"), col("p0"), col("y0"),
        300000L).orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    val beta0 = run(df, 300000L, 0L)
    assert(beta0.forall(_._7 == 0L))
    assert(beta0.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) == ses,
      "beta=0 must reproduce SES term-for-term")
    // α = 1e6 degeneracy: level ≡ y; trend = β-smoothed first difference
    // with TRUNCATING (toward-zero) division on negatives:
    // (.5·(−8−(−3)) + .5·0) = −2500000/1e6 → −2, not floor's −3
    val neg = Seq(("a", 1L, -3L), ("a", 2L, -8L)).toDF("grp0", "p0", "y0")
    val a1 = run(neg, 1000000L, 500000L)
    assert(a1 == Seq(
      ("a", 1L, -3L, None, None, -3L, 0L),
      ("a", 2L, -8L, Some(-3L), Some(-5L), -8L, -2L)), s"got $a1")
    // determinism under repartition; duplicate / parameter / step guards
    assert(run(df.repartition(5), 500000L, 500000L) == got)
    intercept[IllegalArgumentException](TimeSeries.holtBacktest(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L, 500000L))
    intercept[IllegalArgumentException](TimeSeries.holtBacktest(
      df, col("grp0"), col("p0"), col("y0"), 0L, 500000L))
    intercept[IllegalArgumentException](TimeSeries.holtBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, 1000001L))
    intercept[IllegalArgumentException](TimeSeries.holtBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, 500000L, maxSteps = 2))
  }

  test("holtWintersBacktest: hand trajectory, Holt degeneracy pin, guards (X127)") {
    import spark.implicits._
    def run(d: org.apache.spark.sql.DataFrame, m: Int, a: Long, b: Long,
        g: Long) =
      TimeSeries.holtWintersBacktest(d, col("grp0"), col("p0"), col("y0"),
          m, a, b, g)
        .orderBy("grp", "p")
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long],
          Option[Long], Option[Long])]
        .collect().toSeq
    // m = 2, α = β = γ = 0.5 over y = 10, 20, 40, 30 (millions):
    // warm-up ℓ = 15e6, b = 0, s = [−5e6, 5e6]
    // t3: f = 10e6; ℓ = .5·45e6 + .5·15e6 = 30e6; b = 7.5e6; s = 2.5e6
    // t4: f = 42.5e6; ℓ = .5·25e6 + .5·37.5e6 = 31.25e6;
    //     b = .5·1.25e6 + .5·7.5e6 = 4.375e6; s = .5·(−1.25e6) + .5·5e6
    val df = Seq(("g", 1L, 10000000L), ("g", 2L, 20000000L),
      ("g", 3L, 40000000L), ("g", 4L, 30000000L)).toDF("grp0", "p0", "y0")
    val got = run(df, 2, 500000L, 500000L, 500000L)
    assert(got == Seq(
      ("g", 1L, 10000000L, None, None, None, None, None),
      ("g", 2L, 20000000L, None, None, None, None, None),
      ("g", 3L, 40000000L, Some(10000000L), Some(30000000L),
        Some(30000000L), Some(7500000L), Some(2500000L)),
      ("g", 4L, 30000000L, Some(42500000L), Some(-12500000L),
        Some(31250000L), Some(4375000L), Some(1875000L))), s"got $got")
    // degeneracy pin: a CONSTANT warm-up with γ = 0 zeroes every seasonal
    // slot, so from row m the fold IS holtBacktest started at row m
    val const = Seq(("g", 1L, 7000000L), ("g", 2L, 7000000L),
      ("g", 3L, 7000000L), ("g", 4L, 19000000L), ("g", 5L, 11000000L),
      ("g", 6L, -4000000L)).toDF("grp0", "p0", "y0")
    val hw = run(const, 3, 300000L, 100000L, 0L).drop(3)
      .map(r => (r._2, r._4, r._5, r._6, r._7))
    val holt = TimeSeries.holtBacktest(
        const.filter(col("p0") >= 3), col("grp0"), col("p0"), col("y0"),
        300000L, 100000L)
      .orderBy("p").filter(col("p") > 3)
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
      .map(r => (r._2, r._4, r._5, Some(r._6), Some(r._7)))
    assert(hw == holt, s"γ=0 constant-warm-up must equal Holt: $hw vs $holt")
    // short group: all warm-up, never a fake season
    val short = run(Seq(("s", 1L, 5L), ("s", 2L, 6L))
      .toDF("grp0", "p0", "y0"), 3, 500000L, 0L, 0L)
    assert(short.forall(r => r._4.isEmpty && r._6.isEmpty))
    // guards: gap, duplicate, season length, maxSteps
    intercept[IllegalArgumentException](run(Seq(("g", 1L, 1L),
      ("g", 3L, 2L), ("g", 4L, 3L)).toDF("grp0", "p0", "y0"),
      2, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](run(Seq(("g", 1L, 1L),
      ("g", 1L, 2L)).toDF("grp0", "p0", "y0"), 2, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](run(df, 1, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](TimeSeries.holtWintersBacktest(
      df, col("grp0"), col("p0"), col("y0"), 2, 500000L, 0L, 0L,
      maxSteps = 2))
  }

  test("dampedHoltBacktest: hand trajectory, Holt/SES degeneracy pins, " +
      "one-rounding φb, guards (X139)") {
    import spark.implicits._
    // α = β = 0.5, φ = 0.5: ℓ₁ = 1000000, b₁ = 0
    // t2: φb = 0; f = 1000000; ℓ = 2000000; b = (.5·1e6 + .5·0) = 500000
    // t3: φb = 250000; f = 2250000; ℓ = (.5·2000000 + .5·2250000)
    //     = 2125000; b = (.5·125000 + .5·250000) = 187500
    val df = Seq(("g", 1L, 1000000L), ("g", 2L, 3000000L),
      ("g", 3L, 2000000L)).toDF("grp0", "p0", "y0")
    def run(d: org.apache.spark.sql.DataFrame, a: Long, b: Long, phi: Long) =
      TimeSeries.dampedHoltBacktest(d, col("grp0"), col("p0"), col("y0"),
          a, b, phi)
        .orderBy("grp", "p")
        .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
        .collect().toSeq
    val got = run(df, 500000L, 500000L, 500000L)
    assert(got == Seq(
      ("g", 1L, 1000000L, None, None, 1000000L, 0L),
      ("g", 2L, 3000000L, Some(1000000L), Some(2000000L), 2000000L, 500000L),
      ("g", 3L, 2000000L, Some(2250000L), Some(-250000L), 2125000L, 187500L)),
      s"got $got")
    // φ = 1e6 degeneracy: φb ≡ b and the fold IS holtBacktest
    val holt = TimeSeries.holtBacktest(df, col("grp0"), col("p0"),
        col("y0"), 300000L, 200000L).orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    assert(run(df, 300000L, 200000L, 1000000L) == holt,
      "phi=1e6 must reproduce Holt term-for-term")
    // β = 0 degeneracy: trend stays 0 and the fold IS sesBacktest
    val ses = TimeSeries.sesBacktest(df, col("grp0"), col("p0"), col("y0"),
        300000L).orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    val beta0 = run(df, 300000L, 0L, 700000L)
    assert(beta0.forall(_._7 == 0L))
    assert(beta0.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) == ses,
      "beta=0 must reproduce SES term-for-term")
    // φb rounds ONCE, toward zero, and that same value feeds f, ℓ, b:
    // b₂ = −3 at φ = 0.5 ⇒ φb = −1 (toward zero, not floor's −2) — with
    // α = 1e6 the level is y and b₃ = (β·(ℓ₃−ℓ₂) + (1−β)·φb) DIV 1e6
    val neg = Seq(("a", 1L, 0L), ("a", 2L, -6L), ("a", 3L, -6L))
      .toDF("grp0", "p0", "y0")
    val a1 = run(neg, 1000000L, 500000L, 500000L)
    // t2: φb = 0, f = 0, ℓ = −6, b = (.5·(−6))/1e6 → −3 (exact)
    // t3: φb = (.5·(−3)) → −1 (toward zero); f = −7; ℓ = −6;
    //     b = (.5·0 + .5·(−1)) = −500000/1e6 → 0 (toward zero)
    assert(a1 == Seq(
      ("a", 1L, 0L, None, None, 0L, 0L),
      ("a", 2L, -6L, Some(0L), Some(-6L), -6L, -3L),
      ("a", 3L, -6L, Some(-7L), Some(1L), -6L, 0L)), s"got $a1")
    // determinism under repartition; guards
    assert(run(df.repartition(5), 500000L, 500000L, 500000L) == got)
    intercept[IllegalArgumentException](TimeSeries.dampedHoltBacktest(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L, 500000L, 500000L))
    intercept[IllegalArgumentException](TimeSeries.dampedHoltBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, 500000L, 0L))
    intercept[IllegalArgumentException](TimeSeries.dampedHoltBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, 500000L, 1000001L))
    intercept[IllegalArgumentException](TimeSeries.dampedHoltBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, 500000L, 500000L,
      maxSteps = 2))
  }

  test("crostonBacktest: hand trajectory, SES degeneracy on dense demand, " +
      "guards (X141)") {
    import spark.implicits._
    // y = [0, 5e6, 0, 0, 3e6] at α = 0.5:
    // idx2 warms: z = 5e6, p = 2e6 (first demand at position 2)
    // idx3/4: f = 5e6·1e6 DIV 2e6 = 2.5e6, state frozen
    // idx5: f = 2.5e6 first, then q = 3: z = (.5·3e6+.5·5e6) = 4e6,
    //       p = (.5·3e6+.5·2e6) = 2.5e6
    val df = Seq(("g", 1L, 0L), ("g", 2L, 5000000L), ("g", 3L, 0L),
      ("g", 4L, 0L), ("g", 5L, 3000000L)).toDF("grp0", "p0", "y0")
    def run(d: org.apache.spark.sql.DataFrame, a: Long) =
      TimeSeries.crostonBacktest(d, col("grp0"), col("p0"), col("y0"), a)
        .orderBy("grp", "p")
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
        .collect().toSeq
    val got = run(df, 500000L)
    assert(got == Seq(
      ("g", 1L, 0L, None, None, None),
      ("g", 2L, 5000000L, None, Some(5000000L), Some(2000000L)),
      ("g", 3L, 0L, Some(2500000L), Some(5000000L), Some(2000000L)),
      ("g", 4L, 0L, Some(2500000L), Some(5000000L), Some(2000000L)),
      ("g", 5L, 3000000L, Some(2500000L), Some(4000000L), Some(2500000L))),
      s"got $got")
    // dense-demand degeneracy: every period nonzero keeps p ≡ 1e6 and
    // the (forecast, z) trajectory IS sesBacktest term for term
    val dense = Seq(("d", 1L, 1000000L), ("d", 2L, 3000000L),
      ("d", 3L, 2000000L)).toDF("grp0", "p0", "y0")
    val cro = run(dense, 300000L)
    assert(cro.forall(_._6.forall(_ == 1000000L)))
    val ses = TimeSeries.sesBacktest(dense, col("grp0"), col("p0"),
        col("y0"), 300000L).orderBy("grp", "p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    assert(cro.map(r => (r._1, r._2, r._3, r._4, r._5.get)) ==
      ses.map(r => (r._1, r._2, r._3, r._4, r._6)),
      "dense demand must reproduce SES term-for-term")
    // determinism under repartition; guards: negative, duplicate, gap, α
    assert(run(df.repartition(5), 500000L) == got)
    intercept[IllegalArgumentException](TimeSeries.crostonBacktest(
      Seq(("g", 1L, -1L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L))
    intercept[IllegalArgumentException](TimeSeries.crostonBacktest(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L))
    intercept[IllegalArgumentException](TimeSeries.crostonBacktest(
      Seq(("g", 1L, 1L), ("g", 3L, 2L)).toDF("grp0", "p0", "y0"),
      col("grp0"), col("p0"), col("y0"), 500000L))
    intercept[IllegalArgumentException](TimeSeries.crostonBacktest(
      df, col("grp0"), col("p0"), col("y0"), 0L))
    intercept[IllegalArgumentException](TimeSeries.crostonBacktest(
      df, col("grp0"), col("p0"), col("y0"), 500000L, maxSteps = 2))
  }

  test("acfLjungBox: linear-trend hand values, brute-force replica, " +
      "constant NULL, guards (X151)") {
    def run(rows: Seq[(String, Long, Long)], maxLag: Int = 2) =
      TimeSeries.acfLjungBox(rows.toDF("g", "p", "y"), col("g"),
          col("p"), col("y"), maxLag)
        .orderBy("grp", "lag")
        .as[(String, Int, Long, Option[Long], Option[Long])]
        .collect().toSeq
    // y = 1..5: the textbook linear-trend ACF — r1 = 0.4, r2 = −0.1;
    // LB1 = 35·0.16/4 = 1.4; LB2 adds the floored 0.01/3 term
    val lin = (1 to 5).map(i => ("a", i.toLong, i.toLong))
    assert(run(lin) == Seq(
      ("a", 1, 5L, Some(400000L), Some(1400000L)),
      ("a", 2, 5L, Some(-100000L), Some(1516667L))))
    // constant series: den = 0 → NULL r and NULL LB, rows still emitted
    val const = (1 to 4).map(i => ("c", i.toLong, 7L))
    assert(run(const) == Seq(("c", 1, 4L, None, None),
      ("c", 2, 4L, None, None)))
    // short group emits only the lags it supports (n=2 → lag 1 only):
    // the single centered pair gives r = −9/18 = −0.5, LB = 2·4·0.25 = 2
    assert(run(Seq(("s", 1L, 3L), ("s", 2L, 9L))) ==
      Seq(("s", 1, 2L, Some(-500000L), Some(2000000L))))
    // brute-force replica on a hashed fixture, exact integers mirrored
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val ys = (1 to 120).map(i => h(s"y:$i", 50).toLong - 25)
    val n = ys.size
    val s = ys.map(BigInt(_)).sum
    val s2 = ys.map(y => BigInt(y) * y).sum
    val den = BigInt(n) * n * s2 - BigInt(n) * s * s
    var cum = BigInt(0)
    val expect = (1 to 3).map { k =>
      val pk = (0 until n - k).map(t => BigInt(ys(t)) * ys(t + k)).sum
      val hk = (0 until n - k).map(t => BigInt(ys(t))).sum
      val tk = (k until n).map(t => BigInt(ys(t))).sum
      val num = BigInt(n) * n * pk - BigInt(n) * s * (hk + tk) +
        BigInt(n - k) * s * s
      val r = math.round(1000000.0 * num.toDouble / den.toDouble)
      cum += BigInt(r) * r * 1000000 / (n - k)
      val lb = math.round(n.toDouble * (n + 2) * cum.toDouble / 1e12)
      ("f", k, n.toLong, Some(r), Some(lb))
    }
    assert(run(ys.zipWithIndex.map { case (y, i) =>
      ("f", i.toLong + 100, y) }, maxLag = 3) == expect)
    // gap refuses
    refused("consecutive") {
      run(Seq(("g", 1L, 1L), ("g", 3L, 2L)))
    }
    // duplicate refuses
    refused("duplicate") {
      run(Seq(("g", 1L, 1L), ("g", 1L, 2L)))
    }
    // budget refusal: n³·max|y|² past the DECIMAL(38) headroom
    refused("budget") {
      run((1 to 150).map(i => ("b", i.toLong, 1000000000000000L)))
    }
    // maxLag guard
    intercept[IllegalArgumentException](run(lin, maxLag = 0))
    // determinism under repartition
    val rows = ys.zipWithIndex.map { case (y, i) => ("f", i.toLong, y) }
    assert(TimeSeries.acfLjungBox(rows.toDF("g", "p", "y").repartition(7),
      col("g"), col("p"), col("y"), 3)
      .as[(String, Int, Long, Option[Long], Option[Long])]
      .collect().toSet == expect.toSet)
  }

  test("ewmaChart: hand trajectory with time-varying limits, spike flag, " +
      "Shewhart pin at lambda=1e6, guards (X161)") {
    // mu = 0, sigma = 1.0, lambda = 0.5, L = 3: z = (0, 0, 5e6);
    // half-widths from the stated chain at t = 1, 2, 3
    val df = Seq(("g", 1L, 0L), ("g", 2L, 0L), ("g", 3L, 10000000L))
      .toDF("gr", "p", "y")
    def hw(t: Long, lam: Long): Long = {
      val c1 = lam.toDouble / (2000000.0 - lam)
      val c2 = if (lam == 1000000L) 1.0
        else 1.0 - math.exp(2.0 * t *
          math.log((1000000L - lam).toDouble / 1000000.0))
      math.round(3000000.0 * 1000000L / 1000000.0 * math.sqrt(c1 * c2))
    }
    val got = TimeSeries.ewmaChart(df, col("gr"), col("p"), col("y"),
        lambdaMicro = 500000L, muMicro = 0L, sigmaMicro = 1000000L)
      .orderBy("p")
      .as[(String, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      ("g", 1L, 0L, 0L, hw(1, 500000), -hw(1, 500000), false),
      ("g", 2L, 0L, 0L, hw(2, 500000), -hw(2, 500000), false),
      ("g", 3L, 10000000L, 5000000L, hw(3, 500000), -hw(3, 500000), true)),
      s"got $got")
    assert(hw(1, 500000) == 1500000L) // the t=1 half-width is exact
    // lambda = 1e6 IS the Shewhart individuals chart: z = y, constant
    // 3-sigma limits
    val shew = TimeSeries.ewmaChart(df, col("gr"), col("p"), col("y"),
        lambdaMicro = 1000000L, muMicro = 0L, sigmaMicro = 1000000L)
      .orderBy("p")
      .as[(String, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    assert(shew.map(_._4) == Seq(0L, 0L, 10000000L))
    assert(shew.map(_._5).distinct == Seq(3000000L))
    assert(shew.map(_._7) == Seq(false, false, true))
    // duplicate (group, period) refusal; sigma/L guards
    intercept[IllegalArgumentException](TimeSeries.ewmaChart(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("gr", "p", "y"),
      col("gr"), col("p"), col("y"), 500000L, 0L, 1000000L))
    intercept[IllegalArgumentException](TimeSeries.ewmaChart(df,
      col("gr"), col("p"), col("y"), 500000L, 0L, 0L))
    intercept[IllegalArgumentException](TimeSeries.ewmaChart(df,
      col("gr"), col("p"), col("y"), 0L, 0L, 1000000L))
    // determinism under repartition
    assert(TimeSeries.ewmaChart(df.repartition(3), col("gr"), col("p"),
      col("y"), 500000L, 0L, 1000000L).orderBy("p")
      .as[(String, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq == got)
  }

  test("thetaBacktest: linear-ramp hand trajectory, constant-series = " +
      "SES pin, causal prefix slope, guards (X163)") {
    // linear ramp 0,1,2,3 (micro 1e6/step), alpha = 0.5: drift kicks in
    // at step 3 with the exact half-slope 500000 from the causal prefix
    val ramp = Seq(("g", 1L, 0L), ("g", 2L, 1000000L),
      ("g", 3L, 2000000L), ("g", 4L, 3000000L)).toDF("gr", "p", "y")
    val got = TimeSeries.thetaBacktest(ramp, col("gr"), col("p"),
        col("y"), alphaMicro = 500000L)
      .orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("g", 1L, 0L, None, None, 0L, 0L),
      ("g", 2L, 1000000L, Some(0L), Some(1000000L), 500000L, 0L),
      ("g", 3L, 2000000L, Some(1000000L), Some(1000000L), 1250000L,
        500000L),
      ("g", 4L, 3000000L, Some(1750000L), Some(1250000L), 2125000L,
        500000L)), s"got $got")
    // constant series: every prefix slope is 0 -> the fold IS SES term
    // for term (the degeneracy pin)
    val const = Seq(("g", 1L, 5000000L), ("g", 2L, 5000000L),
      ("g", 3L, 5000000L), ("g", 4L, 4000000L)).toDF("gr", "p", "y")
    val ses = TimeSeries.sesBacktest(const, col("gr"), col("p"),
        col("y"), alphaMicro = 300000L).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSeq
    val theta = TimeSeries.thetaBacktest(const, col("gr"), col("p"),
        col("y"), alphaMicro = 300000L).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    // the 4th point breaks constancy, but its FORECAST still used the
    // constant prefix — every forecast/level matches SES on this fixture
    assert(theta.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)) == ses,
      s"theta $theta vs ses $ses")
    assert(theta.map(_._7) == Seq(0L, 0L, 0L, 0L))
    // duplicate refusal; determinism
    intercept[IllegalArgumentException](TimeSeries.thetaBacktest(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("gr", "p", "y"),
      col("gr"), col("p"), col("y"), 500000L))
    assert(TimeSeries.thetaBacktest(ramp.repartition(3), col("gr"),
      col("p"), col("y"), 500000L).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq == got)
  }

  test("seasonalDecompose: exact recovery on linear+seasonal (even m), " +
      "constant series (odd m), NULL edges, unobserved-position NULL, " +
      "guards (X166)") {
    // linear trend + zero-sum period-4 seasonal: the half-weighted 2x4
    // window covers each position with equal weight, so trend recovers
    // the line EXACTLY, seasonal recovers s, remainder is exactly 0
    val sIdx = Seq(800000L, -200000L, -600000L, 0L)
    val rows = (0 to 11).map(t =>
      ("g", t.toLong, 1000000L * (t + 1) + sIdx(t % 4)))
    val got = TimeSeries.seasonalDecompose(rows.toDF("gr", "p", "y"),
        col("gr"), col("p"), col("y"), m = 4).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    got.foreach { case (_, p, y, tr, se, re) =>
      if (p < 2 || p > 9) {
        assert(tr.isEmpty && re.isEmpty, s"edge row $p must be NULL-trend")
      } else {
        assert(tr.contains(1000000L * (p + 1)), s"trend at $p: $tr")
        assert(re.contains(0L), s"remainder at $p: $re")
      }
      assert(se.contains(sIdx((p % 4).toInt)), s"seasonal at $p: $se")
    }
    // odd m on a constant series: trend = y everywhere a window fits,
    // seasonal 0, remainder 0
    val const = (0 to 6).map(t => ("g", t.toLong, 5000000L))
    val cg = TimeSeries.seasonalDecompose(const.toDF("gr", "p", "y"),
        col("gr"), col("p"), col("y"), m = 3).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    cg.foreach { case (_, p, _, tr, se, re) =>
      if (p >= 1 && p <= 5) {
        assert(tr.contains(5000000L) && se.contains(0L) && re.contains(0L))
      } else assert(tr.isEmpty)
    }
    // 5 points at m = 4: only position 2 ever detrends — the other
    // positions carry NULL seasonal (visible, never a fake 0)
    val short = (0 to 4).map(t => ("g", t.toLong, 1000000L))
    val sg = TimeSeries.seasonalDecompose(short.toDF("gr", "p", "y"),
        col("gr"), col("p"), col("y"), m = 4).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(sg.map(_._5) == Seq(None, None, Some(0L), None, None), s"$sg")
    // gap and duplicate refusals
    intercept[IllegalArgumentException](TimeSeries.seasonalDecompose(
      Seq(("g", 1L, 1L), ("g", 3L, 2L)).toDF("gr", "p", "y"),
      col("gr"), col("p"), col("y"), m = 2))
    intercept[IllegalArgumentException](TimeSeries.seasonalDecompose(
      Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("gr", "p", "y"),
      col("gr"), col("p"), col("y"), m = 2))
    // determinism under repartition
    assert(TimeSeries.seasonalDecompose(
      rows.toDF("gr", "p", "y").repartition(5), col("gr"), col("p"),
      col("y"), m = 4).orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq == got)
  }

  test("crossCorrelation: identical-series r0 = 1, shifted-series peak " +
      "at the shift, full BigInt+IEEE replica, constant NULL, guards " +
      "(X167)") {
    // brute replica of the whole lag table on a hashed fixture
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val n = 40
    val xs = (0 until n).map(i => (h(s"x:$i", 9) * 100000).toLong)
    // y = x shifted 2 periods later plus a hashed wobble
    val ys = (0 until n).map(i =>
      (if (i >= 2) xs(i - 2) else 0L) + (h(s"w:$i", 3) * 50000).toLong)
    def replica(maxLag: Int): Seq[(Long, Option[Long])] = {
      val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
      val sxx = xs.map(v => BigInt(v) * v).sum
      val syy = ys.map(v => BigInt(v) * v).sum
      val dx = BigInt(n) * sxx - sx * sx
      val dy = BigInt(n) * syy - sy * sy
      (-maxLag to maxLag).map { k =>
        val (a, b, sa, sb) =
          if (k >= 0) (xs, ys, sx, sy) else (ys, xs, sy, sx)
        val j = math.abs(k)
        val idx = 0 until (n - j)
        val pSum = idx.map(t => BigInt(a(t)) * b(t + j)).sum
        val hSum = idx.map(t => BigInt(a(t))).sum
        val tSum = idx.map(t => BigInt(b(t + j))).sum
        val num = BigInt(n) * n * pSum - BigInt(n) * sb * hSum -
          BigInt(n) * sa * tSum + BigInt(n - j) * sa * sb
        val r = if (dx > 0 && dy > 0) Some(math.round(
          1e6 * num.toDouble /
            (n.toDouble * math.sqrt(dx.toDouble) *
              math.sqrt(dy.toDouble))))
        else None
        (k.toLong, r)
      }
    }
    val df = (0 until n).map(i => ("g", i.toLong, xs(i), ys(i)))
      .toDF("gr", "p", "x", "y")
    val got = TimeSeries.crossCorrelation(df, col("gr"), col("p"),
        col("x"), col("y"), maxLag = 5).orderBy("lag")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    val exp = replica(5)
    assert(got.map(g => (g._2, g._4)) == exp,
      s"got ${got.map(g => (g._2, g._4))}, exp $exp")
    // the shift shows up: lag +2 dominates every other lag
    val byLag = got.map(g => g._2 -> g._4.get).toMap
    assert(byLag(2L) == byLag.values.max, s"peak not at +2: $byLag")
    // identical series: r0 is exactly 1
    val same = (0 until 10).map(i =>
      ("g", i.toLong, (i * i * 1000).toLong, (i * i * 1000).toLong))
      .toDF("gr", "p", "x", "y")
    val r0 = TimeSeries.crossCorrelation(same, col("gr"), col("p"),
        col("x"), col("y"), maxLag = 1).filter(col("lag") === 0)
      .select("r_micro").as[Long].collect()(0)
    assert(r0 == 1000000L, s"got $r0")
    // constant y: zero variance, every lag NULL
    val flat = (0 until 6).map(i => ("g", i.toLong, i.toLong * 1000, 7L))
      .toDF("gr", "p", "x", "y")
    val nulls = TimeSeries.crossCorrelation(flat, col("gr"), col("p"),
      col("x"), col("y"), maxLag = 2).select("r_micro").collect()
    assert(nulls.forall(_.isNullAt(0)))
    // duplicate and gap refusals
    refused("crossCorrelation: duplicate (group, period)")(TimeSeries.crossCorrelation(
      Seq(("g", 1L, 1L, 1L), ("g", 1L, 2L, 2L)).toDF("gr", "p", "x", "y"),
      col("gr"), col("p"), col("x"), col("y")))
    refused("crossCorrelation: non-consecutive periods")(TimeSeries.crossCorrelation(
      Seq(("g", 1L, 1L, 1L), ("g", 3L, 2L, 2L)).toDF("gr", "p", "x", "y"),
      col("gr"), col("p"), col("x"), col("y")))
    // determinism under repartition
    assert(TimeSeries.crossCorrelation(df.repartition(5), col("gr"),
      col("p"), col("x"), col("y"), maxLag = 5).orderBy("lag")
      .as[(String, Long, Long, Option[Long])].collect().toSeq == got)
  }

  test("pacf: base pin pacf(1)=r1, independent Durbin-Levinson replica, " +
      "constant NULL, group-budget refusal, determinism (X171)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(t: String, m: Int) = {
      val dg = md.digest(t.getBytes("UTF-8"))
      ((dg(0) & 0xff) * 256 + (dg(1) & 0xff)) % m
    }
    val rows = (0 until 30).map(i =>
      ("g", i.toLong, (h(s"v:$i", 11) * 250000).toLong))
    val df = rows.toDF("gr", "p", "y")
    val acf = TimeSeries.acfLjungBox(df, col("gr"), col("p"), col("y"),
        maxLag = 5).orderBy("lag")
      .select("lag", "r_micro").as[(Int, Long)].collect().toSeq
    val got = TimeSeries.pacf(df, col("gr"), col("p"), col("y"),
        maxLag = 5).orderBy("lag")
      .as[(String, Int, Option[Long])].collect().toSeq
    // base pin: pacf(1) IS r1, bit for bit
    assert(got.head == (("g", 1, Some(acf.head._2))), s"got ${got.head}")
    // independent functional Durbin-Levinson replica over the same r
    val r = acf.map(_._2.toDouble / 1e6)
    def dl(k: Int, phi: Vector[Double]): Vector[(Int, Long)] =
      if (k > r.length) Vector.empty
      else if (k == 1) (1, acf.head._2) +: dl(2, Vector(r(0)))
      else {
        val dotN = (1 to k - 1).map(j => phi(j - 1) * r(k - j - 1)).sum
        val dotD = (1 to k - 1).map(j => phi(j - 1) * r(j - 1)).sum
        val pk = (r(k - 1) - dotN) / (1.0 - dotD)
        val next = (1 to k - 1).map(i =>
          phi(i - 1) - pk * phi(k - 1 - i)).toVector :+ pk
        (k, math.round(1e6 * pk)) +: dl(k + 1, next)
      }
    val exp = dl(1, Vector.empty)
    assert(got.map(t => (t._2, t._3.get)) == exp,
      s"got ${got.map(t => (t._2, t._3.get))}, exp $exp")
    // constant series: NULL ACF -> NULL PACF rows, visible
    val flat = (0 until 8).map(i => ("c", i.toLong, 7L))
      .toDF("gr", "p", "y")
    val nulls = TimeSeries.pacf(flat, col("gr"), col("p"), col("y"),
      maxLag = 3).select("pacf_micro").collect()
    assert(nulls.nonEmpty && nulls.forall(_.isNullAt(0)))
    // group budget refuses BEFORE collecting
    val many = (0 until 40).flatMap(g =>
      (0 until 3).map(i => (s"g$g", i.toLong, (i * 1000).toLong)))
      .toDF("gr", "p", "y")
    val e = intercept[IllegalArgumentException](TimeSeries.pacf(many,
      col("gr"), col("p"), col("y"), maxLag = 2, maxGroups = 10))
    assert(e.getMessage.contains("groups"))
    // determinism under repartition
    assert(TimeSeries.pacf(df.repartition(7), col("gr"), col("p"),
      col("y"), maxLag = 5).orderBy("lag")
      .as[(String, Int, Option[Long])].collect().toSeq == got)
  }

  test("holtWintersMultBacktest: hand trajectory, flat-season Holt pin, " +
      "positivity refusal, guards (X175)") {
    import spark.implicits._
    def run(d: org.apache.spark.sql.DataFrame, m: Int, a: Long, b: Long,
        g: Long) =
      TimeSeries.holtWintersMultBacktest(d, col("grp0"), col("p0"),
          col("y0"), m, a, b, g)
        .orderBy("grp", "p")
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long],
          Option[Long], Option[Long])]
        .collect().toSeq
    // m = 2, α = β = γ = 0.5 over y = 10, 20, 40 (millions):
    // warm-up ℓ = 15e6, b = 0, s = [666666, 1333333] (1e6·y DIV ℓ)
    // t3: f = 15e6·666666 DIV 1e6 = 9999990; deseason = 4e13 DIV
    //     666666 = 60000060; ℓ = 37500030; b = 11250015;
    //     s = (5e5·(4e13 DIV 37500030) + 5e5·666666) DIV 1e6 = 866665
    val df = Seq(("g", 1L, 10000000L), ("g", 2L, 20000000L),
      ("g", 3L, 40000000L)).toDF("grp0", "p0", "y0")
    val got = run(df, 2, 500000L, 500000L, 500000L)
    assert(got == Seq(
      ("g", 1L, 10000000L, None, None, None, None, None),
      ("g", 2L, 20000000L, None, None, None, None, None),
      ("g", 3L, 40000000L, Some(9999990L), Some(30000010L),
        Some(37500030L), Some(11250015L), Some(866665L))), s"got $got")
    // degeneracy pin: a CONSTANT warm-up pins every seasonal slot to
    // exactly 1e6, and with γ = 0 the fold IS holtBacktest started at
    // row m (DIV by 1e6 is the identity) — the multiplicative twin of
    // the X127 pin
    val const = Seq(("g", 1L, 7000000L), ("g", 2L, 7000000L),
      ("g", 3L, 7000000L), ("g", 4L, 19000000L), ("g", 5L, 11000000L),
      ("g", 6L, 4000000L)).toDF("grp0", "p0", "y0")
    val hw = run(const, 3, 300000L, 100000L, 0L).drop(3)
      .map(r => (r._2, r._4, r._5, r._6, r._7))
    val holt = TimeSeries.holtBacktest(
        const.filter(col("p0") >= 3), col("grp0"), col("p0"), col("y0"),
        300000L, 100000L)
      .orderBy("p").filter(col("p") > 3)
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
      .map(r => (r._2, r._4, r._5, Some(r._6), Some(r._7)))
    assert(hw == holt, s"γ=0 constant-warm-up must equal Holt: $hw vs $holt")
    // the multiplicative domain is strictly positive — y ≤ 0 refuses
    intercept[IllegalArgumentException](run(Seq(("g", 1L, 0L))
      .toDF("grp0", "p0", "y0"), 2, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](run(Seq(("g", 1L, -5L))
      .toDF("grp0", "p0", "y0"), 2, 500000L, 0L, 0L))
    // guards: gap, duplicate, maxSteps
    intercept[IllegalArgumentException](run(Seq(("g", 1L, 1L),
      ("g", 3L, 2L)).toDF("grp0", "p0", "y0"), 2, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](run(Seq(("g", 1L, 1L),
      ("g", 1L, 2L)).toDF("grp0", "p0", "y0"), 2, 500000L, 0L, 0L))
    intercept[IllegalArgumentException](
      TimeSeries.holtWintersMultBacktest(df, col("grp0"), col("p0"),
        col("y0"), 2, 500000L, 0L, 0L, maxSteps = 2))
    // determinism under repartition
    assert(run(const.repartition(5), 3, 300000L, 100000L, 200000L) ==
      run(const, 3, 300000L, 100000L, 200000L))
  }
}
