package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AggViewSpec extends SparkSpec {
  import spark.implicits._

  private val ms = Seq(AggView.Measure("x", 2), AggView.Measure("y", 6))

  private def fixture: DataFrame = Seq(
    ("a", 1.25, 0.000001), ("a", 2.50, 0.000002), ("b", -3.75, 0.5),
    ("b", 10.00, -0.25), ("c", 0.01, 123.456789)
  ).toDF("g", "x", "y")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("g").collect().map(_.toSeq).toSeq.map(_.toSeq)

  test("partials + merge equal the direct aggregation; merge is idempotent") {
    val parts0 = AggView.partials(fixture.filter(col("x") < 1), Seq("g"), ms)
    val parts1 = AggView.partials(fixture.filter(col("x") >= 1), Seq("g"), ms)
    val merged = AggView.merge(parts0.unionByName(parts1), Seq("g"), ms)
    val direct = AggView.partials(fixture, Seq("g"), ms)
    assert(rows(merged) == rows(direct))
    // schema-stable: merge's output re-merges to itself (monoid fold);
    // nullability may differ (count is non-nullable, sum-of-counts not)
    assert(merged.schema.map(f => (f.name, f.dataType))
      == direct.schema.map(f => (f.name, f.dataType)))
    assert(rows(AggView.merge(merged, Seq("g"), ms)) == rows(merged))
  }

  test("ledger lifecycle: exactly-once commit, fold-as-re-aggregation, view ≡ direct") {
    val dir = graft.core.Scratch.workDir("aggview").toString
    def batch(i: Int) = fixture.filter(pmod(xxhash64(col("x")), lit(2)) === i)
    assert(AggView.commitSegment(spark, dir, "v", 0L, batch(0), Seq("g"), ms))
    assert(AggView.commitSegment(spark, dir, "v", 1L, batch(1), Seq("g"), ms))
    // replay no-ops WITHOUT building the batch plan (by-name argument)
    assert(!AggView.commitSegment(spark, dir, "v", 0L,
      sys.error("replay built the batch plan"), Seq("g"), ms))
    val before = rows(AggView.read(spark, dir, "v", Seq("g"), ms))
    // fold-then-read ≡ read, and the folded base is one row per group
    assert(AggView.compact(spark, dir, "v", Seq("g"), ms, maxDeltas = 0))
    val base = graft.core.Table(spark, dir, "v").readLedger
    assert(base.count() == base.select("g").distinct().count())
    assert(rows(AggView.read(spark, dir, "v", Seq("g"), ms)) == before)
    // the view equals the direct aggregation over everything
    val view = AggView.read(spark, dir, "v", Seq("g"), ms)
    val direct = fixture.groupBy("g").agg(
      count(lit(1)).as("cnt"),
      count($"x").as("cnt_x"), Ops.sumDec($"x", 2).as("sum_x"),
      Ops.avgDec($"x", 2).as("avg_x"), min($"x").as("min_x"), max($"x").as("max_x"),
      count($"y").as("cnt_y"), Ops.sumDec($"y", 6).as("sum_y"),
      Ops.avgDec($"y", 6).as("avg_y"), min($"y").as("min_y"), max($"y").as("max_y"))
    assert(rows(view.select(direct.columns.toIndexedSeq.map(col): _*)) == rows(direct))
  }

  test("NULL semantics: cnt counts rows, cnt_c the avg denominator, all-NULL groups carry NULLs") {
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.0)), ("a", None), ("n", None), ("n", None)
    ).toDF("g", "x")
    val m = Seq(AggView.Measure("x", 2))
    val out = AggView.merge(AggView.partials(df, Seq("g"), m), Seq("g"), m)
    val dir = graft.core.Scratch.workDir("aggview-null").toString
    assert(AggView.commitSegment(spark, dir, "v", 0L, df, Seq("g"), m))
    val view = AggView.read(spark, dir, "v", Seq("g"), m)
      .orderBy("g").collect()
    assert(view(0).getLong(1) == 2 && view(0).getLong(2) == 1) // cnt, cnt_x
    assert(view(0).getDouble(4) == 1.0)                        // avg over non-null
    assert(view(1).getLong(1) == 2 && view(1).getLong(2) == 0)
    assert(view(1).isNullAt(3) && view(1).isNullAt(4) &&
      view(1).isNullAt(5) && view(1).isNullAt(6))              // sum/avg/min/max NULL
    assert(out.count() == 2)
  }

  test("a schema-changing ledger fold is refused") {
    val dir = graft.core.Scratch.workDir("aggview-fold").toString
    val tbl = graft.core.Table(spark, dir, "v")
    assert(tbl.ledgerAppendIfAbsent(0L, Seq((1, "a")).toDF("k", "s")))
    val e = intercept[IllegalArgumentException](
      tbl.ledgerCompact(0, _.drop("s")))
    assert(e.getMessage.contains("fold changed the schema"))
    // refusal left the ledger readable and un-folded
    assert(tbl.readLedger.count() == 1)
    assert(tbl.ledgerCompact(0)) // identity fold still works
  }

  test("partials is one aggregation: exactly one exchange, map-side combine") {
    // spark.range-derived frame so nothing folds to LocalTableScan
    val df = spark.range(100).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") % 7).cast("double").as("x"))
    val plan = AggView.partials(df, Seq("g"), Seq(AggView.Measure("x", 2)))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan) // partial + final
  }

  test("guards: spec validation") {
    intercept[IllegalArgumentException](
      AggView.partials(fixture, Nil, ms))
    // count-only views are legal: no measures, cnt alone is the monoid
    val countOnly = AggView.partials(fixture, Seq("g"), Nil)
    assert(countOnly.columns.toSeq == Seq("g", "cnt"))
    intercept[IllegalArgumentException](
      AggView.partials(fixture, Seq("g"),
        Seq(AggView.Measure("x"), AggView.Measure("x", 6))))
    intercept[IllegalArgumentException](
      AggView.partials(fixture, Seq("g"), Seq(AggView.Measure("nope"))))
    intercept[IllegalArgumentException](
      AggView.partials(fixture, Seq("g", "x"), Seq(AggView.Measure("x"))))
    intercept[IllegalArgumentException](
      AggView.partials(fixture.withColumnRenamed("g", "sum_x"),
        Seq("sum_x"), Seq(AggView.Measure("x"))))
  }
}
