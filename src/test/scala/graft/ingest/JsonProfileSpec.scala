package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JsonProfileSpec extends SparkSpec {
  import spark.implicits._

  private def profile(docs: Seq[String], maxDepth: Int = 3) =
    JsonProfile.pathProfile(docs.toDF("j"), col("j"), maxDepth)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap

  test("pathProfile: hand-pinned census over mixed shapes (X84)") {
    val docs = Seq(
      """{"id": 1, "meta": {"s": "a", "t": 1.5}, "tags": [1, 2]}""",
      """{"id": 2.5, "meta": {"s": null}}""",
      """{"id": true}""",
      """not json at all""")
    val p = profile(docs)
    // root: 3 parsed objects of 4 rows; malformed: 1
    assert(p("$") == ("$", 3L, 3L, 0L, 0L, 0L, 0L, 0L, 750000L))
    assert(p("(malformed)") == ("(malformed)", 1L, 0L, 0L, 0L, 0L, 0L, 0L, 250000L))
    // id: BIGINT + DECIMAL both classify number; true is boolean
    assert(p("$.id") == ("$.id", 3L, 0L, 0L, 0L, 2L, 1L, 0L, 750000L))
    // explicit JSON null is PRESENT with type null — not absence
    assert(p("$.meta.s") == ("$.meta.s", 2L, 0L, 0L, 1L, 0L, 0L, 1L, 500000L))
    assert(p("$.meta.t") == ("$.meta.t", 1L, 0L, 0L, 0L, 1L, 0L, 0L, 250000L))
    // arrays count as array and are not walked
    assert(p("$.tags") == ("$.tags", 1L, 0L, 1L, 0L, 0L, 0L, 0L, 250000L))
    assert(!p.keySet.exists(_.startsWith("$.tags.")), s"walked an array: ${p.keySet}")
    assert(p.keySet == Set("$", "(malformed)", "$.id", "$.meta", "$.meta.s",
      "$.meta.t", "$.tags"), s"got ${p.keySet}")
  }

  test("pathProfile: maxDepth bounds the walk; deep objects still typed") {
    val docs = Seq("""{"a": {"b": {"c": {"d": 1}}}}""")
    val p = profile(docs, maxDepth = 2)
    // depth 2 emits $.a.b and classifies it object — but never opens it
    assert(p.keySet == Set("$", "$.a", "$.a.b"), s"got ${p.keySet}")
    assert(p("$.a.b")._3 == 1L) // n_object
    val deep = profile(docs, maxDepth = 4)
    assert(deep.keySet.contains("$.a.b.c.d"))
  }

  test("pathProfile: NULL json rows count into the total only; determinism") {
    val df = Seq(Some("""{"a": 1}"""), None, None, Some("""{"a": 2}"""))
      .toDF("j")
    val out = JsonProfile.pathProfile(df, col("j"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("$.a")._9 == 500000L, s"got ${out("$.a")}") // 2 of 4 rows
    assert(!out.contains("(malformed)")) // NULL input is absence, not rot
    val again = JsonProfile.pathProfile(df.repartition(5), col("j"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(again == out)
    intercept[IllegalArgumentException](
      JsonProfile.pathProfile(df, col("j"), maxDepth = 0))
    // the empty-input refusal rides the plan: the call returns, the
    // action refuses
    val empty = JsonProfile.pathProfile(Seq.empty[String].toDF("j"), col("j"))
    refused("pathProfile: empty input")(empty.collect())
  }

  test("pathProfile: the call starts no Spark job") {
    val counter = new graft.tools.Harness.JobCounter(spark)
    try {
      val local = Seq("""{"a": 1}""").toDF("j")
      assert(counter.count(JsonProfile.pathProfile(local, col("j")))._2.jobs == 0)
      val q232 = graft.SparkEntry.queries("q232_json_path_profile")
      val sf = new java.io.File(graft.tools.Harness.sfDir).getParent + "/sf0.001"
      assert(counter.count(q232(spark, sf))._2.jobs == 0)
    } finally counter.close()
  }
}
