package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tools.Harness

class RefuseSpec extends SparkSpec {
  import spark.implicits._

  private val msg = "refuse-spec: negative x"

  /** 20,000 rows in 4 parquet files, one of them x = -1 in group 'b'. */
  private def input(bad: Boolean): DataFrame = {
    val d = Scratch.workDir("refuse-spec").resolve("in").toString
    spark.range(0, 20000, 1, 4)
      .select(when(col("id") === 7 && lit(bad), -1L).otherwise(col("id")).as("x"),
        when(col("id") === 7, "b").otherwise("a").as("g"), (col("id") % 3).as("y"))
      .write.parquet(d)
    Parquet.scan(spark, d)
  }

  private def guarded(df: DataFrame) =
    Refuse.rows(df, (col("x") < 0) -> lit(msg))

  private val actions: Seq[(String, DataFrame => Any)] = Seq(
    "count" -> (_.count()),
    "select of an unrelated column" -> (_.select("y").collect()),
    "groupBy" -> (_.groupBy("y").count().collect()),
    "downstream filter on the checked column" ->
      (_.filter(col("x") > 15000).count()),
    "filter after an aggregation" ->
      (_.groupBy("g").agg(sum("x").as("s")).filter(col("g") === "a").collect()))

  test("a refusal fires under every downstream shape") {
    val bad = guarded(input(bad = true))
    for ((name, action) <- actions) withClue(name)(refused(msg)(action(bad)))
  }

  private def rows(a: Any): Any = a match {
    case r: Array[_] => r.map(String.valueOf).sorted.toSeq
    case x => x
  }

  test("a clean input passes, with the same rows and no job more") {
    val clean = input(bad = false)
    val counter = new Harness.JobCounter(spark)
    try {
      for ((name, action) <- actions) withClue(name) {
        val (plain, n0) = counter.count(action(clean))
        val (kept, n1) = counter.count(action(guarded(clean)))
        assert(rows(kept) == rows(plain))
        assert(n1.jobs <= n0.jobs, s"${n1.jobs} jobs against ${n0.jobs}")
      }
    } finally counter.close()
  }

  test("rules are checked in order per row; a message prints the row, NULL as null") {
    val df = Seq[(Option[Long], Option[String])]((Some(-5L), None), (Some(3L), Some("a")))
      .toDF("x", "s")
    val both = Refuse.rows(df,
      (col("x") < 0) -> concat(lit("first x="), Refuse.show(col("x")),
        lit(" s="), Refuse.show(col("s"))),
      col("s").isNull -> lit("second"))
    refused("first x=-5 s=null")(both.collect())
    // a NULL condition passes, as in a filter
    assert(Refuse.rows(df, (col("s") === "q") -> lit("never")).count() == 2)
  }

  test("no src/main refusal probes an input eagerly but at the kept sites") {
    // file -> the probe variables kept eager, each for a stated reason
    val kept = Map(
      // failure path only: names an offender after a budget collect fired
      "ops/Associations.scala" -> Seq("huge", "huge"),
      // a side aggregate off the result's lineage
      "ops/Graph.scala" -> Seq("dup"),
      "ops/Sampling.scala" -> Seq("straddle"),
      "ops/TimeSeries.scala" -> Seq("dup", "dup"),
      "ops/TrendTests.scala" -> Seq("dup"),
      "sim/Similarity.scala" -> Seq("over"),
      // the treatment census, and budgets guarding a driver fold or a
      // quadratic join that would run before an in-plan refusal fired
      "ops/RankStats.scala" -> Seq("tooMany", "tooMany", "tooMany", "big", "big", "over"),
      // the result is a narrow map of the refused frame: a limit could
      // read the bad row's partition never
      "ops/Layout.scala" -> Seq("missing"),
      "ops/Spatial.scala" -> Seq("negP", "negP"),
      "ops/Experiment.scala" -> Seq("small"))
    val probe = """(?s)val (\w+) = (?:(?!\bval\b).)*?\.limit\(1\)\s*\.collect\(\)\s*require\(\1\.isEmpty""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val root = "src/main/scala/graft/"
    val found = files(new java.io.File(root)).filter(_.getName.endsWith(".scala"))
      .map { f =>
        f.getPath.stripPrefix(root) -> probe.findAllMatchIn(
          scala.io.Source.fromFile(f, "UTF-8").mkString).map(_.group(1)).toSeq
      }.filter(_._2.nonEmpty).toMap
    val extra = found.map { case (f, vs) => f -> vs.diff(kept.getOrElse(f, Nil)) }
      .filter(_._2.nonEmpty)
    assert(extra.isEmpty, s"refuse through graft.core.Refuse.rows instead: $extra")
    assert(found.values.map(_.size).sum == kept.values.map(_.size).sum,
      s"a kept probe is gone; shrink the list: $found")
  }
}
