package graft.core

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Survival, TimeSeries}
import graft.tools.Harness

/** Pins the bounded step table the driver-side recurrences fold over:
  * groups fold independently of each other, a refusal keeps its message
  * and its precedence whether or not the table overflows `maxSteps`, and
  * a call's only eager job is the table's one sorted collect. */
class StepTableSpec extends SparkSpec {
  import spark.implicits._

  private def messageOf(call: => Any): String =
    intercept[IllegalArgumentException](call).getMessage

  // 41 groups of unequal length: group i starts at period i % 5 and runs
  // 1 + 7i mod 13 consecutive periods; every other series value is zero
  // in the intermittent variant
  private val groups = (0 until 41).map(i => f"g$i%02d")
  private def series(zeros: Boolean) = for {
    (g, i) <- groups.zipWithIndex
    k <- 0 until 1 + (7 * i) % 13
  } yield (g, (i % 5 + k).toLong,
    if (zeros && (i + k) % 2 == 0) 0L else ((31 * i + 17 * k) % 23 + 1) * 1000000L)
  // 2 + 5i mod 9 subjects per group; cause 0 is censored
  private val subjects = for {
    (g, i) <- groups.zipWithIndex
    j <- 0 until 2 + (5 * i) % 9
  } yield (g, ((5 * j + i) % 11).toLong, ((i + j) % 3).toLong)

  test("every per-group fold: all groups at once == each group alone, " +
      "unioned") {
    val dense = series(zeros = false)
    val intermittent = series(zeros = true)
    val (g, p, y, dur, cause) = (col("g"), col("p"), col("y"), col("dur"),
      col("cause"))
    val folds: Seq[(String, Seq[(String, Long, Long)], DataFrame => DataFrame)] =
      Seq(
        ("sesBacktest", dense, df =>
          TimeSeries.sesBacktest(df, g, p, y, 300000L)),
        ("holtBacktest", dense, df =>
          TimeSeries.holtBacktest(df, g, p, y, 300000L, 200000L)),
        ("dampedHoltBacktest", dense, df =>
          TimeSeries.dampedHoltBacktest(df, g, p, y, 300000L, 200000L, 900000L)),
        ("crostonBacktest", intermittent, df =>
          TimeSeries.crostonBacktest(df, g, p, y, 300000L)),
        ("holtWintersBacktest", dense, df => TimeSeries.holtWintersBacktest(
          df, g, p, y, 3, 300000L, 100000L, 200000L)),
        ("holtWintersMultBacktest", dense, df =>
          TimeSeries.holtWintersMultBacktest(df, g, p, y, 3, 300000L, 100000L,
            200000L)),
        ("ewmaChart", dense, df =>
          TimeSeries.ewmaChart(df, g, p, y, 200000L, 12000000L, 5000000L)),
        ("thetaBacktest", dense, df =>
          TimeSeries.thetaBacktest(df, g, p, y, 300000L)),
        ("kaplanMeier", subjects, df =>
          Survival.kaplanMeier(df, g, dur, cause > 0)),
        ("kaplanMeierCI", subjects, df =>
          Survival.kaplanMeierCI(df, g, dur, cause > 0)),
        ("kaplanMeierLogLogCI", subjects, df =>
          Survival.kaplanMeierLogLogCI(df, g, dur, cause > 0)),
        ("nelsonAalen", subjects, df =>
          Survival.nelsonAalen(df, g, dur, cause > 0)),
        ("nelsonAalenLogCI", subjects, df =>
          Survival.nelsonAalenLogCI(df, g, dur, cause > 0)),
        ("aalenJohansen", subjects, df =>
          Survival.aalenJohansen(df, g, dur, cause)))
    // the 14 × 41 single-group calls are independent: four at a time
    // one group alone runs in a session of its own, without AQE and with
    // one partition per scan and shuffle, four calls at a time: 14 × 41
    // tiny calls
    val alone = spark.newSession()
    alone.conf.set("spark.sql.adaptive.enabled", "false")
    alone.conf.set("spark.sql.shuffle.partitions", "1")
    alone.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = folds.map { case (name, rows, fold) =>
        val names =
          if (rows eq subjects) Seq("g", "dur", "cause") else Seq("g", "p", "y")
        def out(df: DataFrame) = fold(df).collect().map(_.toString).toSeq
        // all groups at once over 4 partitions (and 4 shuffle partitions)
        val together = out(rows.toDF(names: _*).repartition(4)).sorted
        (name, together, Future.traverse(groups)(k => Future(out(
          alone.createDataFrame(rows.filter(_._1 == k)).toDF(names: _*)))))
      }
      for ((name, together, each) <- runs) {
        assert(together.map(_.take(4)).distinct.size > 30, s"$name: too few groups")
        assert(together == Await.result(each, 5.minutes).flatten.sorted,
          s"$name: a group's rows depend on its neighbours")
      }
    } finally pool.shutdown()
  }

  test("Holt-Winters reports the first gap in (group, period) order, " +
      "whatever the shuffle layout") {
    // b's gap has the smaller period, a's comes first in key order; without
    // AQE over 8 shuffle partitions b's hash partition is scanned first
    val rows = Seq(("a", 5L, 7L), ("a", 6L, 8L), ("a", 9L, 9L), ("b", 1L, 4L),
      ("b", 3L, 5L), ("b", 4L, 6L))
    val uncoalesced = spark.newSession()
    uncoalesced.conf.set("spark.sql.adaptive.enabled", "false")
    uncoalesced.conf.set("spark.sql.shuffle.partitions", "8")
    val (g, p, y) = (col("g"), col("p"), col("y"))
    for (session <- Seq(spark, uncoalesced); maxSteps <- Seq(100, 2)) {
      val gaps = session.createDataFrame(rows).toDF("g", "p", "y").repartition(4)
      assert(messageOf(TimeSeries.holtWintersBacktest(gaps, g, p, y, 2,
        500000L, 0L, 0L, maxSteps)) == "requirement failed: " +
        "holtWintersBacktest: non-consecutive periods 9 after 6 — a gap " +
        "shifts season alignment; gap-fill or re-index upstream")
      assert(messageOf(TimeSeries.holtWintersMultBacktest(gaps, g, p, y, 2,
        500000L, 0L, 0L, maxSteps)) == "requirement failed: " +
        "holtWintersMultBacktest: non-consecutive periods 9 after 6 — a gap " +
        "shifts season alignment; gap-fill or re-index upstream")
    }
  }

  test("an input breaking several rules gets the first rule's message, " +
      "within maxSteps or past it") {
    val negative = "requirement failed: crostonBacktest: negative demand — " +
      "Croston smooths nonnegative demand sizes; fix the construction upstream"
    val duplicate = "requirement failed: crostonBacktest: duplicate (group, " +
      "period) observation — two values make the forecast ambiguous; " +
      "aggregate upstream"
    val gap = "requirement failed: crostonBacktest: non-consecutive periods " +
      "— a zero-demand period is an explicit y = 0 row, not a gap (a missing " +
      "row silently shortens intervals); densify upstream"
    val tooMany = "requirement failed: more than 3 Croston steps — bucket " +
      "periods upstream (the bounded driver-fold stance)"
    def croston(rows: Seq[(String, Long, Long)], maxSteps: Int) =
      TimeSeries.crostonBacktest(rows.toDF("g", "p", "y").repartition(4),
        col("g"), col("p"), col("y"), 500000L, maxSteps)
    val cases = Seq(
      "negative, duplicate, gap" -> (Seq(("a", 1L, 5L), ("a", 1L, 6L),
        ("a", 4L, -1L), ("b", 1L, 1L)) -> negative),
      "duplicate, gap" -> (Seq(("a", 1L, 5L), ("a", 3L, 6L), ("b", 2L, 1L),
        ("b", 2L, 2L)) -> duplicate),
      "gap" -> (Seq(("a", 1L, 5L), ("a", 2L, 6L), ("b", 1L, 1L),
        ("b", 3L, 2L)) -> gap),
      "none" -> (Seq(("a", 1L, 5L), ("a", 2L, 6L), ("b", 1L, 1L),
        ("b", 2L, 2L)) -> tooMany))
    for ((name, (rows, message)) <- cases) {
      if (message != tooMany)
        assert(messageOf(croston(rows, 100)) == message, s"$name, within")
      assert(messageOf(croston(rows, 3)) == message, s"$name, past maxSteps")
    }
    // a censored negative duration is no KM step, yet still refuses first
    val negSpan = Seq(("g", -1L, false), ("g", 2L, true), ("g", 3L, true))
      .toDF("g", "dur", "ev")
    for (maxSteps <- Seq(100, 1))
      assert(messageOf(Survival.kaplanMeier(negSpan, col("g"), col("dur"),
        col("ev"), maxSteps)) == "requirement failed: negative duration — " +
        "time-to-event is an elapsed span; fix the construction upstream")
  }

  test("a call's only eager job is the one sorted collect") {
    // range-built inputs: a local Seq would let the optimizer answer a
    // refusal probe at planning time, with no job to count
    val demand = spark.range(18).select(
      (col("id") / 6).cast("int").cast("string").as("g"),
      (col("id") % 6 + 1).as("p"), (col("id") % 3 * 1000000L).as("y"))
    val lifetimes = spark.range(200).select(
      (col("id") % 41).cast("string").as("g"),
      ((col("id") * 5 + col("id") % 41) % 11).as("dur"),
      (col("id") % 3 > 0).as("ev"))
    val counter = new Harness.JobCounter(spark)
    try {
      // under AQE the sorted collect is 3 jobs (two shuffle stages and the
      // result), the noop write of the local output 1
      val croston = counter.count(TimeSeries.crostonBacktest(demand,
          col("g"), col("p"), col("y"), 500000L)
        .write.format("noop").mode("overwrite").save())._2.jobs
      // the step table's aggregation and window add their shuffle stages
      val km = counter.count(Survival.kaplanMeier(lifetimes, col("g"),
        col("dur"), col("ev")))._2.jobs
      assert((croston, km) == ((4, 5)),
        s"crostonBacktest + noop write: $croston jobs, kaplanMeier: $km")
    } finally counter.close()
  }
}
