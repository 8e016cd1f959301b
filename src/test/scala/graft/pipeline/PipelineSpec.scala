package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  import spark.implicits._

  test("runs stages in dependency order with fan-in") {
    val p = new Pipeline(Seq(
      Stage("join", Seq("left", "right"),
        d => d("left").join(d("right"), "id")),
      Stage("left", Nil, _ => Seq((1, "a"), (2, "b")).toDF("id", "l")),
      Stage("right", Nil, _ => Seq((1, "x"), (2, "y")).toDF("id", "r"))))
    val out = p.run(spark)
    assert(out("join").orderBy("id").collect().map(_.getString(2)).toSeq == Seq("x", "y"))
  }

  test("materialize checkpoints a stage as parquet (task-boundary analog)") {
    val dir = graft.core.Scratch.workDir("pipe").toString
    val p = new Pipeline(Seq(
      Stage("src", Nil, _ => Seq(1, 2, 3).toDF("v")),
      Stage("doubled", Seq("src"), d => d("src").withColumn("v2", col("v") * 2))))
    val out = p.run(spark, Some(dir), materialize = Set("doubled"))
    assert(out("doubled").agg(sum("v2")).as[Long].head() == 12)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/doubled.parquet")))
  }

  test("rejects cycles and unknown deps") {
    intercept[IllegalArgumentException] {
      new Pipeline(Seq(
        Stage("a", Seq("b"), d => d("b")),
        Stage("b", Seq("a"), d => d("a")))).topoOrder
    }
    intercept[IllegalArgumentException] {
      new Pipeline(Seq(Stage("a", Seq("ghost"), d => d("ghost"))))
    }
  }

  test("linear builder wires consecutive stages") {
    val p = Pipeline.linear(
      "src" -> (s => { import s.implicits._; Seq(1, 2).toDF("v") }),
      "inc" -> (df => df.withColumn("v", col("v") + 1)),
      "sq" -> (df => df.withColumn("v", col("v") * col("v"))))(spark)
    val out = p.run(spark)
    assert(out("sq").orderBy("v").as[Int].collect().toSeq == Seq(4, 9))
  }
}
