package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // a full 32×32 grid: every (x, y) pair once
  private lazy val grid =
    (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")

  /** Mean per-partition (max − min) span of `c` after the given layout. */
  private def meanSpan(df: org.apache.spark.sql.DataFrame, c: String): Double = {
    val spans = df
      .select(col(c), spark_partition_id().as("pid"))
      .groupBy("pid").agg((max(col(c)) - min(col(c))).as("span"))
      .select("span").as[Long].collect()
    spans.sum.toDouble / spans.length
  }

  test("zOrderBy preserves rows exactly and bounds EVERY dimension's locality") {
    val zed = Layout.zOrderBy(grid, Seq("x", "y"), bits = 5,
      numPartitions = Some(16)).cache()
    // row multiset preserved
    assert(zed.count() == 1024)
    assert(zed.distinct().count() == 1024)
    // single-column sort: x is perfectly local, y spans the whole range
    val xSorted = grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
    val ySpanSorted = meanSpan(xSorted, "y")
    val zSpanX = meanSpan(zed, "x")
    val zSpanY = meanSpan(zed, "y")
    // 64-row z-runs of a 32×32 grid are 8×8 blocks: both spans ≈ 7, while
    // the x-sorted layout leaves y unpruned (span ≈ 31)
    assert(zSpanY < ySpanSorted / 2,
      s"z-order y-span $zSpanY not better than sorted $ySpanSorted")
    assert(zSpanX <= 16 && zSpanY <= 16,
      s"z-order spans too wide: x=$zSpanX y=$zSpanY")
    zed.unpersist()
  }

  test("zOrderBy handles nulls, constant columns and bad arguments") {
    val withNulls = Seq((Some(1L), 2L), (None, 5L), (Some(3L), 7L))
      .toDF("a", "b")
    assert(Layout.zOrderBy(withNulls, Seq("a", "b"), bits = 4).count() == 3)
    val constant = Seq((1L, 1L), (2L, 1L)).toDF("a", "b")
    assert(Layout.zOrderBy(constant, Seq("a", "b"), bits = 4).count() == 2)
    intercept[IllegalArgumentException](Layout.zOrderBy(grid, Seq("x")))
    intercept[IllegalArgumentException](Layout.zOrderBy(grid, Seq("x", "y"), bits = 32))
    intercept[IllegalArgumentException](Layout.zOrderBy(grid, Seq("x", "nope")))
    // a string column would silently rank 0 everywhere (cast -> null ->
    // coalesce) — rejected instead of clustering nothing
    val typed = Seq((1L, "a")).toDF("num", "str")
    intercept[IllegalArgumentException](Layout.zOrderBy(typed, Seq("num", "str")))
  }

  test("writeBucketed refuses to clobber a table rooted elsewhere") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val base = graft.core.Scratch.workDir("layoutspec").toString
    try {
      Layout.writeBucketed(df, "layoutspec_t", s"$base/p1", Seq("k"), 2)
      // same name, same path: a plain refresh — allowed
      Layout.writeBucketed(df, "layoutspec_t", s"$base/p1", Seq("k"), 2)
      // same name, DIFFERENT path: someone else's table — refused…
      intercept[IllegalArgumentException](
        Layout.writeBucketed(df, "layoutspec_t", s"$base/p2", Seq("k"), 2))
      assert(spark.table("layoutspec_t").count() == 2) // …and untouched
      // …unless the caller owns the name and opts in
      Layout.writeBucketed(df, "layoutspec_t", s"$base/p2", Seq("k"), 2,
        allowReplace = true)
      assert(spark.table("layoutspec_t").count() == 2)
      // the name is interpolated into SQL: identifier charset only
      intercept[IllegalArgumentException](
        Layout.writeBucketed(df, "bad`name", s"$base/p3", Seq("k"), 2))
    } finally spark.sql("DROP TABLE IF EXISTS layoutspec_t")
  }

  test("compact bin-packs many small files into few, preserving rows exactly") {
    val base = graft.core.Scratch.workDir("compact").toString
    val df = (0L until 4000L).map(i => (i, s"row-$i-${"x" * 40}")).toDF("id", "v")
    // 40 tiny files — the post-incremental-append degradation
    df.repartition(40).write.parquet(s"$base/src")
    val srcBytes = Option(new java.io.File(s"$base/src").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target = half the total → exactly 2 output files
    val stats = Layout.compact(spark, s"$base/src", s"$base/dst",
      targetBytes = (srcBytes + 1) / 2)
    assert(stats.filesBefore == 40, stats)
    assert(stats.filesAfter == 2, stats)
    // content preserved as a multiset
    val back = spark.read.parquet(s"$base/dst")
    assert(back.count() == 4000)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // the rewrite must be exchange-free: coalesce packs splits, no shuffle
    val plan = spark.read.parquet(s"$base/src").coalesce(2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction read shuffles:\n$plan")
    // in-place refusal: the overwrite would delete inputs under the read
    intercept[IllegalArgumentException](
      Layout.compact(spark, s"$base/src", s"$base/src", 1L << 20))
  }

  test("dictionary encoding: order-preserving codes, lossless round trip (X94)") {
    import spark.implicits._
    val df = Seq(("b", 1L), ("a", 2L), ("c", 3L), ("a", 4L),
      (null.asInstanceOf[String], 5L)).toDF("s", "v")
    val dict = Layout.buildDict(df, "s")
    // codes are dense ranks in value order — order-preserving
    assert(dict.orderBy("code").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val enc = Layout.dictEncode(df, "s", dict)
    assert(enc.columns.toSet == Set("v", "s_code"))
    // NULL value keeps a NULL code
    assert(enc.filter(col("v") === 5L).select("s_code").collect()(0).isNullAt(0))
    // round trip is lossless, including the NULL row
    val back = Layout.dictDecode(enc, "s", dict)
      .select("s", "v").as[(Option[String], Long)].collect().toSet
    assert(back == df.as[(Option[String], Long)].collect().toSet)
    // code order equals value order ⇒ range predicates work on codes
    val aCode = dict.filter(col("value") === "a").select("code").as[Long].head()
    val bCode = dict.filter(col("value") === "b").select("code").as[Long].head()
    assert(aCode < bCode)
    // unknown values refused rather than silently NULL-coded
    val e = intercept[IllegalArgumentException](
      Layout.dictEncode(Seq(("zz", 9L)).toDF("s", "v"), "s", dict))
    assert(e.getMessage.contains("not in the dictionary"))
    // key-like cardinality refused
    val wide = (1 to 100).map(i => s"v$i").toDF("s")
    intercept[IllegalArgumentException](
      Layout.buildDict(wide, "s", maxDict = 10))
    // determinism under repartition
    assert(Layout.buildDict(df.repartition(5), "s").orderBy("code")
      .collect().toSeq == dict.orderBy("code").collect().toSeq)
  }
}
