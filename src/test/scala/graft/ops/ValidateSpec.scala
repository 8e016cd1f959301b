package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (1L, Some(10.0), "A"),
    (2L, Some(-3.0), "B"),   // out of range
    (3L, None, "A"),         // null amount
    (3L, Some(5.0), "C"),    // duplicate id + bad code
    (4L, Some(7.0), "A")
  ).toDF("id", "amount", "code")

  test("report computes all checks in one pass with exact counts") {
    val rep = Validate.report(fixture,
      Seq(Validate.notNull("amount"),
        Validate.inRange("amount", 0, 100),
        Validate.isIn("code", Seq("A", "B"))),
      Seq(Validate.unique("id")))
      .orderBy("check").collect()
    val byName = rep.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byName("not_null(amount)") == ((1L, 5L, false)))
    // null amount is a violation of in_range too (unknown is not a pass)
    assert(byName("in_range(amount,0.0,100.0)") == ((2L, 5L, false)))
    assert(byName("is_in(code)") == ((1L, 5L, false)))
    assert(byName("unique(id)") == ((1L, 5L, false)))
  }

  test("report is a single aggregation job (one scan regardless of checks)") {
    val rep = Validate.report(fixture,
      Seq(Validate.notNull("amount"), Validate.inRange("amount", 0, 100)))
    // the optimized plan contains exactly one Aggregate over one scan
    val plan = rep.queryExecution.optimizedPlan.toString
    assert("(?s)LocalRelation|Scan".r.findAllIn(plan).size <= 2)
    assert(rep.filter(col("pass")).count() == 0)
  }

  test("quarantine splits rows and names every failed check") {
    val (good, bad) = Validate.quarantine(fixture,
      Seq(Validate.notNull("amount"),
        Validate.inRange("amount", 0, 100),
        Validate.isIn("code", Seq("A", "B"))))
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    val v = bad.select(col("id"), col("violations"))
      .as[(Long, Seq[String])].collect().sortBy(r => (r._1, r._2.mkString))
    assert(v.map(_._1).toSeq == Seq(2L, 3L, 3L))
    // the null-amount row fails both the not-null and the range check
    assert(v.find(_._2.contains("not_null(amount)")).get._2.toSet ==
      Set("not_null(amount)", "in_range(amount,0.0,100.0)"))
    // quarantine is reserved-name safe
    intercept[IllegalArgumentException](
      Validate.quarantine(fixture.withColumn("violations", lit(1)),
        Seq(Validate.notNull("amount"))))
  }

  test("uniqueApprox: clean keys report zero; gross duplication is caught") {
    import spark.implicits._
    val clean = (1L to 2000L).toDF("id")
    val repClean = Validate.report(clean, Nil, Seq(Validate.uniqueApprox("id")))
      .collect().head
    assert(repClean.getString(0) == "unique_approx(id)")
    assert(repClean.getLong(1) == 0L && repClean.getBoolean(3))
    // every id duplicated 10x: duplication factor far beyond the 4σ slack
    val dup = (1L to 2000L).flatMap(i => Seq.fill(10)(i % 200)).toDF("id")
    val repDup = Validate.report(dup, Nil, Seq(Validate.uniqueApprox("id")))
      .collect().head
    assert(repDup.getLong(1) > 0L && !repDup.getBoolean(3))
  }

  test("report on an empty frame is all-pass with zero counts, not null") {
    val rep = Validate.report(fixture.filter(col("id") > 100),
      Seq(Validate.notNull("amount")), Seq(Validate.unique("id"))).collect()
    assert(rep.length == 2)
    assert(rep.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L && r.getBoolean(3)))
  }

  test("matches and expectThat compose like the built-in checks") {
    val rep = Validate.report(fixture,
      Seq(Validate.matches("code", "^[A-B]$"),
        Validate.expectThat("amount_id_consistent",
          col("amount").isNull || col("amount") < col("id") * 10)))
      .orderBy("check").collect()
    val byName = rep.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("matches(code)") == 1L)            // "C" fails the regex
    assert(byName("amount_id_consistent") == 1L)     // id=1 amount=10 fails
  }

  test("profile emits one row per column from one pass; empty input safe") {
    val p = Validate.profile(fixture, Seq("id", "amount", "code"))
      .orderBy("col_name").collect()
    val byName = p.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(byName("id") == ((5L, 0L, 4L, "1", "4")))
    assert(byName("amount")._2 == 1L)           // one null
    assert(byName("code") == ((5L, 0L, 3L, "A", "C")))
    // single scan regardless of column count
    val plan = Validate.profile(fixture, Seq("id", "code"))
      .queryExecution.optimizedPlan.toString
    assert("LocalRelation".r.findAllIn(plan).size <= 1)
    // empty input: zero counts, null min/max, no crash
    val empty = Validate.profile(fixture.filter(col("id") > 100), Seq("id")).collect().head
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L && empty.isNullAt(4))
    intercept[IllegalArgumentException](Validate.profile(fixture, Seq("nope")))
  }

  test("expectAll passes clean data through and throws on violations") {
    val clean = fixture.filter(col("id") === 1)
    assert(Validate.expectAll(clean, Seq(Validate.notNull("amount"))).count() == 1)
    val ex = intercept[IllegalStateException](
      Validate.expectAll(fixture, Seq(Validate.notNull("amount")),
        Seq(Validate.unique("id"))))
    assert(ex.getMessage.contains("not_null(amount): 1 violations"))
    assert(ex.getMessage.contains("unique(id): 1 violations"))
  }

  test("benfordAudit: string-exact digits, literal expectations, zero digits emit (X108)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("g", 1L), ("g", 19L), ("g", 23L), ("g", 2L),
      ("g", 111L), ("g", 5L)).toDF("grp", "v")
    val got = Validate.benfordAudit(df, Seq("grp"), col("v"))
      .orderBy("digit")
      .as[(String, Int, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.size == 9, "every digit 1-9 must emit")
    val byDigit = got.map(r => r._2 -> r).toMap
    // digit 1: {1, 19, 111} -> 3 of 6 = 500000µ vs 301030µ
    assert(byDigit(1) == (("g", 1, 3L, 6L, 500000L, 301030L, 198970L,
      198970L)), s"got ${byDigit(1)}")
    // digit 2: {23, 2} -> 333333µ; digit 5 one hit; digit 3 ZERO hits
    assert(byDigit(2)._5 == 333333L && byDigit(2)._7 == 157242L)
    assert(byDigit(5)._3 == 1L && byDigit(3)._3 == 0L)
    assert(byDigit(3)._7 == 124939L, "a missing digit's deviation IS its expectation")
    // the group max rides every row
    assert(got.forall(_._8 == 198970L))
    // determinism + non-positive refusal
    assert(Validate.benfordAudit(df.repartition(5), Seq("grp"), col("v"))
      .orderBy("digit")
      .as[(String, Int, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq == got)
    refused("benfordAudit: non-positive value")(Validate.benfordAudit(
      Seq(("g", 0L)).toDF("grp", "v"), Seq("grp"), col("v")).collect())
    refused("benfordAudit: non-positive value")(Validate.benfordAudit(
      Seq(("g", -7L)).toDF("grp", "v"), Seq("grp"), col("v")).collect())
  }
}
