package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.ops.Ops._

/** Unit coverage for the transformation vocabulary (SURVEY.md §2.2-§2.6). */
class OpsSpec extends SparkSpec {

  import spark.implicits._

  test("keep projects the named columns in order (P1)") {
    val df = Seq((1, "a", true)).toDF("x", "y", "z")
    assert(df.keep("z", "x").columns.toSeq == Seq("z", "x"))
  }

  test("derive adds a computed column (P2)") {
    val df = Seq((1, 2), (3, 4)).toDF("a", "b").derive("c", col("a") + col("b"))
    assert(df.select("c").as[Int].collect().toSeq == Seq(3, 7))
  }

  test("filterRows keeps matching rows (P3)") {
    val df = Seq(1, 2, 3, 4).toDF("v").filterRows(col("v") % 2 === 0)
    assert(df.as[Int].collect().sorted.toSeq == Seq(2, 4))
  }

  test("formatCol transforms in place (P4)") {
    val df = Seq("  A ", "b").toDF("s").formatCol("s")(c => lower(trim(c)))
    assert(df.as[String].collect().toSeq == Seq("a", "b"))
  }

  test("regexExtract pulls a group (P5)") {
    val df = Seq("Brand#42").toDF("s").regexExtract("n", col("s"), "#([0-9]+)", 1)
    assert(df.select("n").as[String].head() == "42")
  }

  test("renamed renames multiple columns (P6)") {
    val df = Seq((1, 2)).toDF("a", "b").renamed("a" -> "x", "b" -> "y")
    assert(df.columns.toSeq == Seq("x", "y"))
  }

  test("castCol changes the type (P7)") {
    val df = Seq("3.5").toDF("v").castCol("v", DecimalType(4, 2))
    assert(df.schema("v").dataType == DecimalType(4, 2))
  }

  test("joinMerged merges key columns and drops right-side collisions (J1/J2)") {
    val l = Seq((1, "x", "keepL")).toDF("id", "a", "shared")
    val r = Seq((1, "y", "dropR")).toDF("id", "b", "shared")
    val j = l.joinMerged(r, Seq("id"))
    assert(j.columns.toSeq == Seq("id", "a", "shared", "b"))
    assert(j.select("shared").as[String].head() == "keepL")
  }

  test("topK returns k rows in order (L2)") {
    val df = (1 to 100).toDF("v").topK(3, col("v").desc)
    assert(df.as[Int].collect().toSeq == Seq(100, 99, 98))
  }

  test("unionMerged unions by name despite column order (§2.6)") {
    val a = Seq((1, "a")).toDF("id", "s")
    val b = Seq(("b", 2)).toDF("s", "id")
    assert(a.unionMerged(b).count() == 2)
  }

  test("hashSample is deterministic, key-stable, and roughly proportional") {
    val df = (1L to 2000L).toDF("id")
    val s1 = df.hashSample(col("id"), 1, 10).as[Long].collect().toSet
    val s2 = df.repartition(7).hashSample(col("id"), 1, 10).as[Long].collect().toSet
    assert(s1 == s2) // partition-layout independent
    assert(s1.size > 100 && s1.size < 300) // ~200 expected
    val s3 = df.hashSample(col("id"), 3, 10).as[Long].collect().toSet
    assert(s1.subsetOf(s3)) // nested fractions keep the same keys
  }

  test("saltedJoin equals a plain inner join (skew relief, semantics-preserving)") {
    val facts = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "v")
    val dim = Seq((1, "X"), (2, "Y"), (3, "Z")).toDF("k", "name")
    val plain = facts.join(dim, Seq("k")).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = facts.saltedJoin(dim, "k", buckets = 4).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("saltedJoin saltOn column spreads identical duplicate rows, same result") {
    // fully identical rows (the boilerplate-doc skew case) hash to one salt
    // bucket under the default; a unique saltOn column breaks that tie while
    // preserving join semantics
    val facts = Seq((1L, 1, "same"), (2L, 1, "same"), (3L, 1, "same"), (4L, 2, "d"))
      .toDF("id", "k", "v")
    val dim = Seq((1, "X"), (2, "Y")).toDF("k", "name")
    val plain = facts.join(dim, Seq("k")).select("id", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = facts.saltedJoin(dim, "k", buckets = 4, saltOn = Seq(col("id")))
      .select("id", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    // with a unique salt column the three identical-content rows land in
    // more than one salt bucket (4 buckets, xxhash64 of ids 1..3)
    val salts = facts.filter(col("v") === "same")
      .withColumn("__salt", pmod(xxhash64(col("id")), lit(4)))
      .select("__salt").as[Long].collect().toSet
    assert(salts.size > 1)
  }

  test("sumDec is exact for 2-decimal doubles; avgDec order-independent (§2.4)") {
    val df = Seq(0.1, 0.2, 0.3).toDF("v")
    val s = df.agg(Ops.sumDec(col("v")).as("s")).select("s").as[Double].head()
    assert(s == 0.6) // double sum would give 0.6000000000000001; the decimal
    // internal sum is exactly 0.60, presented as the double nearest 0.6
    // deterministic: exact decimal sum (0.60) then ONE double division —
    // the same bits on any engine/partitioning (0.6/3 in IEEE double)
    val a = df.agg(Ops.avgDec(col("v")).as("a")).select("a").as[Double].head()
    assert(a == 0.6 / 3)
  }

  test("upsert: updates win by key, inserts append, others pass through") {
    val base = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "s", "v")
    val updates = Seq((2, "B", 99), (4, "d", 40)).toDF("k", "s", "v")
    val got = Ops.upsert(base, updates, Seq("k"))
      .orderBy("k").as[(Int, String, Int)].collect().toSeq
    assert(got == Seq((1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40)))
    // schema mismatch and missing key fail fast
    intercept[IllegalArgumentException](
      Ops.upsert(base, updates.drop("v"), Seq("k")))
    intercept[IllegalArgumentException](Ops.upsert(base, updates, Seq("nope")))
    intercept[IllegalArgumentException](Ops.upsert(base, updates, Nil))
  }

  test("upsert on a composite key") {
    val base = Seq((1, "x", 1.0), (1, "y", 2.0)).toDF("a", "b", "v")
    val updates = Seq((1, "y", 9.0)).toDF("a", "b", "v")
    val got = Ops.upsert(base, updates, Seq("a", "b"))
      .orderBy("b").as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "x", 1.0), (1, "y", 9.0)))
  }

  test("flagOutliers matches the float z-score away from the boundary") {
    // group a: 19 values at 10 plus one at 110 — the spike is >4σ out;
    // group b: uniform spread, nothing beyond 2σ
    val rows = (1 to 19).map(i => (i.toLong, "a", 10L)) ++ Seq((20L, "a", 110L)) ++
      (21 to 30).map(i => (i.toLong, "b", (i % 5 * 10).toLong))
    val df = rows.toDF("id", "g", "x")
    val out = Ops.flagOutliers(df, Seq("g"), col("x"), k = 4)
      .filter(col("is_outlier")).select("id").as[Long].collect().toSeq
    assert(out == Seq(20L))
    // cross-check every flag against double arithmetic at k=2
    val got = Ops.flagOutliers(df, Seq("g"), col("x"), k = 2)
      .select("id", "g", "x", "is_outlier")
      .as[(Long, String, Long, Boolean)].collect()
    val stats = rows.groupBy(_._2).map { case (g, rs) =>
      val xs = rs.map(_._3.toDouble)
      val mu = xs.sum / xs.size
      (g, mu, math.sqrt(xs.map(v => (v - mu) * (v - mu)).sum / xs.size))
    }.map(t => t._1 -> (t._2, t._3)).toMap
    got.foreach { case (id, g, x, flag) =>
      val (mu, sigma) = stats(g)
      assert(flag == math.abs(x - mu) > 2 * sigma, s"row $id disagrees")
    }
  }

  test("scd2Merge versions matched keys, keeps history, appends new keys") {
    val history = Seq(
      (1L, "v1", 0, Some(10)), // key 1: closed old version [0, 10)
      (1L, "v2", 10, None),    // key 1: current
      (2L, "w1", 5, None)      // key 2: current, untouched by the delta
    ).toDF("k", "payload", "valid_from", "valid_to")
    val delta = Seq((1L, "v3", 20), (3L, "x1", 20)).toDF("k", "payload", "valid_from")
    val out = Ops.scd2Merge(history, delta, Seq("k"))
      .orderBy("k", "valid_from")
      .as[(Long, String, Int, Option[Int])].collect().toSeq
    assert(out == Seq(
      (1L, "v1", 0, Some(10)),  // historical row untouched
      (1L, "v2", 10, Some(20)), // previous current closed at the delta ts
      (1L, "v3", 20, None),     // new current
      (2L, "w1", 5, None),      // unmatched current stays open
      (3L, "x1", 20, None)))    // brand-new key opens
    // point-in-time: exactly one version of key 1 is valid at t=15
    val at15 = Ops.scd2Merge(history, delta, Seq("k"))
      .filter(col("k") === 1 && col("valid_from") <= 15 &&
        (col("valid_to").isNull || col("valid_to") > 15))
    assert(at15.count() == 1 &&
      at15.select("payload").as[String].head() == "v2")
    intercept[IllegalArgumentException]( // delta must not carry valid_to
      Ops.scd2Merge(history, history, Seq("k")))
  }

  test("scd2Merge refuses duplicate-key and out-of-order deltas when the merge runs") {
    val history = Seq((1L, "v2", 10, None: Option[Int]))
      .toDF("k", "payload", "valid_from", "valid_to")
    val dupDelta = Seq((1L, "a", 20), (1L, "b", 25)).toDF("k", "payload", "valid_from")
    refused("duplicate key", "e.g. k=1")(
      Ops.scd2Merge(history, dupDelta, Seq("k")).collect())
    // a duplicate key the history does not hold yet is refused too
    val newDup = Seq((7L, "a", 20), (7L, "b", 25)).toDF("k", "payload", "valid_from")
    refused("duplicate key")(Ops.scd2Merge(history, newDup, Seq("k")).count())
    // valid_from equal to the current row's valid_from → inverted interval
    val staleDelta = Seq((1L, "a", 10)).toDF("k", "payload", "valid_from")
    refused("inverted", "for key(s) k=1")(
      Ops.scd2Merge(history, staleDelta, Seq("k")).collect())
    // a well-formed delta merges normally
    val okDelta = Seq((1L, "v3", 20)).toDF("k", "payload", "valid_from")
    val out = Ops.scd2Merge(history, okDelta, Seq("k"))
      .orderBy("valid_from").as[(Long, String, Int, Option[Int])].collect().toSeq
    assert(out == Seq((1L, "v2", 10, Some(20)), (1L, "v3", 20, None)))
  }

  test("snapshotDiff reports added/removed/changed, skips unchanged, null-safe") {
    val old = Seq(
      (1L, Some("a"), 10),  // unchanged
      (2L, Some("b"), 20),  // payload changes
      (3L, Some("c"), 30),  // removed
      (4L, None: Option[String], 40) // null payload, unchanged -> not emitted
    ).toDF("k", "name", "v")
    val neu = Seq(
      (1L, Some("a"), 10),
      (2L, Some("B"), 20),
      (4L, None: Option[String], 40),
      (5L, Some("e"), 50)   // added
    ).toDF("k", "name", "v")
    val out = Ops.snapshotDiff(old, neu, Seq("k"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
    // both sides' payloads travel: changed row carries old and new values
    val row2 = Ops.snapshotDiff(old, neu, Seq("k")).filter(col("k") === 2)
      .select("name_old", "name_new").as[(String, String)].head()
    assert(row2 == (("b", "B")))
    // null-vs-value IS a change; null-vs-null is not
    val oldN = Seq((1L, Some(1))).toDF("k", "x")
    val neuN = Seq((1L, None: Option[Int])).toDF("k", "x")
    assert(Ops.snapshotDiff(oldN, neuN, Seq("k")).count() == 1)
    intercept[IllegalArgumentException]( // schema mismatch
      Ops.snapshotDiff(old, old.drop("v"), Seq("k")))
  }

  test("histogram bins with clamped edges, explicit zero bins, null drop") {
    val df = Seq(-5.0, 0.0, 9.9, 10.0, 25.0, 99.9, 100.0, 250.0)
      .map(Some(_)).appended(None).toDF("x")
    // 10 bins over [0, 100): width 10
    val out = Ops.histogram(df, col("x"), 0.0, 100.0, 10)
      .select("bin", "n").as[(Int, Long)].collect().toMap
    assert(out.size == 10, "every bin must appear")
    assert(out(0) == 3)  // -5 clamps in, 0.0, 9.9
    assert(out(1) == 1)  // 10.0
    assert(out(2) == 1)  // 25.0
    assert(out(9) == 3)  // 99.9, plus 100.0 and 250.0 clamped into top bin
    assert((3 to 8).forall(out(_) == 0))
    val edges = Ops.histogram(df, col("x"), 0.0, 100.0, 10)
      .select("lo_edge", "hi_edge").as[(Double, Double)].collect()
    assert(edges.head == ((0.0, 10.0)) && edges.last == ((90.0, 100.0)))
    // NaN is neither "below range" nor countable — excluded like null, so
    // the low bin is not silently inflated
    val withNan = Seq(Some(5.0), Some(Double.NaN), None).toDF("x")
    val nanOut = Ops.histogram(withNan, col("x"), 0.0, 100.0, 10)
      .agg(sum("n")).as[Long].head()
    assert(nanOut == 1, s"NaN/null must be excluded, counted $nanOut")
    intercept[IllegalArgumentException](Ops.histogram(df, col("x"), 5.0, 5.0, 10))
    intercept[IllegalArgumentException](Ops.histogram(df, col("x"), 0.0, 100.0, 0))
  }

  test("psi measures drift with clamped empty bins; identical corpora score 0") {
    def mk(vals: Seq[Double]) = vals.map(Some(_)).toDF("x")
    val old = mk(Seq.fill(8)(1.0) ++ Seq.fill(2)(6.0))          // bins: 8, 2
    val neu = mk(Seq.fill(5)(1.0) ++ Seq.fill(5)(6.0))          // bins: 5, 5
    val out = Ops.psi(old, neu, col("x"), 0.0, 10.0, 2)
      .select("bin", "p_old", "p_new", "contrib", "psi")
      .as[(Int, Double, Double, Double, Double)].collect().sortBy(_._1)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val c0 = r6((0.5 - 0.8) * math.log(0.5 / 0.8))
    val c1 = r6((0.5 - 0.2) * math.log(0.5 / 0.2))
    assert(out(0)._4 == c0 && out(1)._4 == c1)
    assert(out.forall(_._5 == r6(BigDecimal(c0).+(BigDecimal(c1)).toDouble)))
    // no drift: psi exactly 0
    val same = Ops.psi(old, old, col("x"), 0.0, 10.0, 2)
      .select("psi").as[Double].head()
    assert(same == 0.0)
    // a bin empty on one side clamps to eps instead of producing ±Infinity
    val emptyNew = mk(Seq.fill(10)(1.0)) // all in bin 0
    val drifted = Ops.psi(old, emptyNew, col("x"), 0.0, 10.0, 2)
      .select("contrib").as[Double].collect()
    assert(drifted.forall(c => !c.isInfinite && !c.isNaN))
  }

  test("winsorize clips to the exact quantile range, preserves rows and nulls") {
    // 1..100: p10 = 10.9, p90 = 90.1 (interpolated)
    val df = (1L to 100L).map(i => (i, Some(i))).toDF("id", "x")
      .union(Seq((101L, None: Option[Long])).toDF("id", "x"))
    val out = Ops.winsorize(df, col("x"), 0.10, 0.90, "cx")
    assert(out.count() == 101, "winsorize must be row-preserving")
    val m = out.select("id", "cx").as[(Long, Option[Double])].collect().toMap
    def near(v: Option[Double], x: Double) = v.exists(d => math.abs(d - x) < 1e-9)
    assert(near(m(1L), 10.9) && near(m(5L), 10.9), "low tail clamps to p10")
    assert(near(m(100L), 90.1) && near(m(95L), 90.1), "high tail clamps to p90")
    assert(m(50L).contains(50.0), "interior values pass through")
    assert(m(101L).isEmpty, "null value stays null")
    intercept[IllegalArgumentException](Ops.winsorize(df, col("x"), 0.9, 0.1))
  }

  test("flagOutliers: null values never skew the group; null group/value flag null") {
    // group stats must come from the 20 non-null rows only — 80 nulls
    // inflating n would wrongly flag the mild +2 step (see: n=100 would
    // give lhs (100*12-S)^2 >> rhs)
    val rows = (1 to 19).map(i => (i.toLong, "a", Some(10L))) ++
      Seq((20L, "a", Some(12L))) ++
      (21 to 100).map(i => (i.toLong, "a", None: Option[Long])) ++
      Seq((101L, null: String, Some(5L)))
    val df = rows.toDF("id", "g", "x")
    val out = Ops.flagOutliers(df, Seq("g"), col("x"), k = 2)
    assert(out.count() == 101, "flagOutliers must be row-preserving")
    // over {10 x19, 12}: mu=10.1, sigma~0.436 -> 12 is >4 sigma, flagged;
    // the 10s are within 1 sigma
    assert(out.filter(col("is_outlier")).select("id").as[Long].collect().toSeq
      == Seq(20L))
    assert(out.filter(col("is_outlier").isNull).count() == 81,
      "null value or null group must flag null, not true/false")
  }

  test("flagOutliers boundary is exact: |x - mu| == k*sigma is NOT an outlier") {
    // group {0, 10}: mu = 5, sigma = 5 -> both rows sit exactly at 1 sigma
    val df = Seq((1L, "g", 0L), (2L, "g", 10L)).toDF("id", "g", "x")
    val out = Ops.flagOutliers(df, Seq("g"), col("x"), k = 1)
    assert(out.filter(col("is_outlier")).count() == 0)
    // singleton groups have sigma = 0 and are never outliers
    val single = Ops.flagOutliers(Seq((1L, "s", 7L)).toDF("id", "g", "x"),
      Seq("g"), col("x"), 2)
    assert(single.filter(col("is_outlier")).count() == 0)
  }

  test("histogramByQuantile balances heavy-tailed data; duplicate edges surface") {
    // pareto-ish tail: an equal-width grid would put ~everything in bin 0
    val skewed = (1 to 1000).map(i => i.toLong * i * i).toDF("x")
    val h = Ops.histogramByQuantile(skewed, col("x"), nBins = 10)
      .as[(Int, Double, Double, Long)].collect()
    assert(h.length == 10 && h.map(_._1).toSeq == (0 until 10))
    // every decile bin holds ~100 of the 1000 rows (edges are exact
    // percentiles; interpolation can shift a boundary row or two)
    h.foreach { case (b, lo, hi, n) =>
      assert(n >= 95 && n <= 105, s"bin $b unbalanced: $n rows")
      assert(lo <= hi)
    }
    assert(h.map(_._4).sum == 1000L)
    // edges are monotone and span the data
    assert(h.head._2 == 1.0 && h.last._3 == 1e9)
    // massive duplication: >half the mass on one value makes consecutive
    // edges EQUAL and their earlier twin bins explicitly empty
    val dup = (Seq.fill(60)(5L) ++ (1L to 40L)).toDF("x")
    val hd = Ops.histogramByQuantile(dup, col("x"), nBins = 4)
      .as[(Int, Double, Double, Long)].collect()
    assert(hd.map(_._4).sum == 100L)
    assert(hd.exists(r => r._2 == r._3), s"no duplicate edge surfaced: ${hd.toSeq}")
    assert(hd.exists(_._4 == 0L), s"no explicit empty bin: ${hd.toSeq}")
    // nulls drop; guards hold
    val withNull = Seq(Some(1L), None, Some(2L), Some(3L)).toDF("x")
    assert(Ops.histogramByQuantile(withNull, col("x"), 2)
      .agg(sum("n")).as[Long].head() == 3L)
    intercept[IllegalArgumentException](Ops.histogramByQuantile(dup, col("x"), 1))
  }

  test("keepTopFractionPerGroup: exact floor(n·num/den) per group, score order (X44)") {
    // group a: 5 rows, 3/10 → floor(1.5) = 1 row (the top score);
    // group b: 10 rows, 3/10 → exactly 3
    val df = ((1 to 5).map(i => ("a", i.toLong, i * 10.0)) ++
      (1 to 10).map(i => ("b", 100L + i, i * 1.0))).toDF("g", "k", "s")
    val kept = Ops.keepTopFractionPerGroup(df, Seq("g"), col("s"), col("k"), 3, 10)
      .select("g", "k").as[(String, Long)].collect().toSet
    assert(kept == Set(("a", 5L), ("b", 110L), ("b", 109L), ("b", 108L)))
  }

  test("keepTopFractionPerGroup ties break on key; tiny groups keep zero (X44)") {
    // all scores equal → the kept row is the LOWEST key, deterministically
    val tied = Seq(("a", 3L, 1.0), ("a", 1L, 1.0), ("a", 2L, 1.0)).toDF("g", "k", "s")
    val kept = Ops.keepTopFractionPerGroup(tied, Seq("g"), col("s"), col("k"), 1, 3)
      .select("k").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    // a 2-row group at 1/3 keeps floor(2/3) = 0 rows — a floor, not a ceil
    val tiny = Seq(("a", 1L, 9.0), ("a", 2L, 8.0)).toDF("g", "k", "s")
    assert(Ops.keepTopFractionPerGroup(tiny, Seq("g"), col("s"), col("k"), 1, 3)
      .count() == 0L)
    intercept[IllegalArgumentException](
      Ops.keepTopFractionPerGroup(tiny, Seq("g"), col("s"), col("k"), 4, 3))
  }

  test("bloomPrunedJoin is row-identical to the plain join (X49)") {
    val big = (0L until 2000L).map(i => (i % 500, i)).toDF("k", "v")
    val small = (0L until 50L).map(i => (i * 7, s"s$i")).toDF("k", "name")
    val expected = big.join(small, Seq("k"))
      .as[(Long, Long, String)].collect().toSet
    val got = Ops.bloomPrunedJoin(big, small, Seq("k"), expectedItems = 100)
      .as[(Long, Long, String)].collect().toSet
    assert(got == expected)
    // a deliberately overloaded sketch (false positives near-certain) must
    // still be exact — positives fall out at the join
    val noisy = Ops.bloomPrunedJoin(big, small, Seq("k"),
        expectedItems = 2, fpp = 0.4)
      .as[(Long, Long, String)].collect().toSet
    assert(noisy == expected)
    // left_semi supported; outer flavors refused (they'd owe null-extended
    // rows for pruned keys)
    assert(Ops.bloomPrunedJoin(big, small, Seq("k"), 100, joinType = "left_semi")
      .count() == big.join(small, Seq("k"), "left_semi").count())
    intercept[IllegalArgumentException](
      Ops.bloomPrunedJoin(big, small, Seq("k"), 100, joinType = "left_outer"))
    // key dataType mismatch refused: xxhash64 hashes int and bigint
    // differently, so the probe would prune EVERY match (a plain join
    // would coerce and return them) — silent total row loss
    val smallInt = small.withColumn("k", col("k").cast("int"))
    val e = intercept[IllegalArgumentException](
      Ops.bloomPrunedJoin(big, smallInt, Seq("k"), 100))
    assert(e.getMessage.contains("dataType"))
  }

  test("bloomPrunedJoin: the probe sits BELOW the big side's exchange (X49)") {
    // parquet-backed sides: ConvertToLocalRelation folds filters over
    // in-memory fixtures into the LocalTableScan, which would hide the
    // probe this test exists to locate
    val base = graft.core.Scratch.workDir("bloomjoin").toString
    (0L until 2000L).map(i => (i % 500, i)).toDF("k", "v")
      .write.parquet(s"$base/big")
    (0L until 50L).map(i => (i * 7, s"s$i")).toDF("k", "name")
      .write.parquet(s"$base/small")
    val big = spark.read.parquet(s"$base/big")
    val small = spark.read.parquet(s"$base/small")
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Ops.bloomPrunedJoin(big, small, Seq("k"), expectedItems = 100)
        .queryExecution.executedPlan.toString
      val probe = p.indexOf("bloom_might_contain")
      val exchange = p.indexOf("Exchange hashpartitioning")
      assert(probe >= 0, s"no bloom probe in plan:\n$p")
      assert(exchange >= 0 && p.contains("SortMergeJoin"),
        s"expected a shuffle join under disabled broadcast:\n$p")
      // plan trees print top-down: the probe appearing AFTER the exchange
      // line means it executes BELOW it — rows are pruned before shuffling
      assert(probe > exchange, s"bloom probe above the exchange:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("cdcApply: last op per key wins; deletes remove; untouched pass (X50)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val log = Seq(
      (1L, "a2", 1L, "U"), // plain update
      (2L, null, 1L, "D"), // delete
      (3L, "c2", 1L, "U"), (3L, null, 2L, "d"), // update then delete: D wins
      (5L, "e", 1L, "I"), // insert (lower-case op also accepted above: 'd')
      (6L, "f1", 1L, "I"), (6L, "f2", 2L, "U") // insert then update: U wins
    ).toDF("k", "v", "seq", "op")
    val got = Ops.cdcApply(base, log, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (4L, "d"), (5L, "e"), (6L, "f2")))
    // malformed op is a producer bug, not a silent reinterpretation
    val badLog = Seq((1L, "x", 1L, "Z")).toDF("k", "v", "seq", "op")
    refused("malformed CDC log row (op 'Z', keys 1)")(
      Ops.cdcApply(base, badLog, Seq("k"), "seq", "op").collect())
    // a NULL op would sort NULLS FIRST (winning compaction) then silently
    // delete the key through the null filter — refused instead
    val nullOp = Seq((1L, "x", 9L, null.asInstanceOf[String]))
      .toDF("k", "v", "seq", "op")
    refused("malformed CDC log row (op 'null', keys 1)")(
      Ops.cdcApply(base, nullOp, Seq("k"), "seq", "op").collect())
    // a NULL key row could never be updated or deleted by a later apply
    // (equality anti-join skips nulls) — refused
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "x", 1L, "I"))
      .toDF("k", "v", "seq", "op")
    refused("malformed CDC log row (op 'I', keys null)")(
      Ops.cdcApply(base, nullKey, Seq("k"), "seq", "op").collect())
    // log missing a base column is refused (the apply can't invent values)
    intercept[IllegalArgumentException](
      Ops.cdcApply(base, log.drop("v"), Seq("k"), "seq", "op"))
  }

  test("skewSplitJoin is row-identical to the plain join, inner and left (X78)") {
    import spark.implicits._
    // key 0 is the heavy hitter (60 rows); 1..9 are light; 99 unmatched
    val big = ((1 to 60).map(i => (0L, i)) ++
      (1 to 9).flatMap(k => Seq((k.toLong, k * 100), (k.toLong, k * 101))) ++
      Seq((99L, -1))).toDF("k", "v")
    val small = ((0L to 9L).map(k => (k, s"n$k")) :+ (50L, "orphan"))
      .toDF("k", "name")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "name").collect()
        .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) null else r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val plainI = rows(big.join(small, Seq("k"), "inner"))
    assert(rows(Ops.skewSplitJoin(big, small, Seq("k"), 10)) == plainI)
    val plainL = rows(big.join(small, Seq("k"), "left"))
    assert(rows(Ops.skewSplitJoin(big, small, Seq("k"), 10, "left")) == plainL)
    // no key over the threshold → everything rides the light branch, same rows
    assert(rows(Ops.skewSplitJoin(big, small, Seq("k"), 1000)) == plainI)
    // plan shape with auto-broadcast off: the heavy branch broadcasts the
    // small side's heavy rows, the light branch keeps the shuffle join
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Ops.skewSplitJoin(big, small, Seq("k"), 10)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"heavy branch not broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"light branch lost its shuffle join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    // guards
    intercept[IllegalArgumentException](
      Ops.skewSplitJoin(big, small, Seq("k"), 10, "right"))
    intercept[IllegalArgumentException](
      Ops.skewSplitJoin(big, small, Seq("k"), 0))
    intercept[IllegalArgumentException](
      Ops.skewSplitJoin(big, small, Seq("nope"), 10))
    val tooMany = intercept[IllegalArgumentException](
      Ops.skewSplitJoin(big, small, Seq("k"), 1, maxHeavyKeys = 2))
    assert(tooMany.getMessage.contains("not a skew tail"))
  }

  test("skewProfile: hand-pinned shares, cumulative, uniform multiple (X88)") {
    val rows = Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val out = Ops.skewProfile(rows.toDF("k"), col("k"), topK = 2)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a", 6L, 600000L, 600000L, 1800000L, 10L, 3L),
      (2L, "b", 3L, 300000L, 900000L, 900000L, 10L, 3L)), s"got $out")
    // NULL keys are a REAL group — the most common heavy hitter there is
    val withNull = (Seq.fill(5)(Option.empty[String]) ++
      Seq(Some("x"), Some("y"))).toDF("k")
    val top = Ops.skewProfile(withNull, col("k"), topK = 1)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().head
    assert(top._2 == "(null)" && top._3 == 5L && top._4 == 714285L, s"got $top")
    // determinism under repartition
    val again = Ops.skewProfile(rows.toDF("k").repartition(7), col("k"),
      topK = 2).collect().toSeq
    assert(again == Ops.skewProfile(rows.toDF("k"), col("k"), topK = 2)
      .collect().toSeq)
    intercept[IllegalArgumentException](
      Ops.skewProfile(rows.toDF("k"), col("k"), topK = 0))
  }

  test("exactPercentiles: nearest-rank hand-pins, ties, NULLs (X92)") {
    // group a: values 10..100 by 10 (n=10): P50 = rank 5 = 50,
    // P95 = rank ceil(9.5) = 10 → 100, P10 = rank 1 = 10
    val a = (1 to 10).map(i => ("a", Some(i * 10L)))
    val b = Seq(("b", Some(7L)), ("b", Option.empty[Long])) // NULL excluded
    val out = Ops.exactPercentiles((a ++ b).toDF("g", "v"), Seq("g"),
        col("v"), Seq("p10" -> 100000L, "p50" -> 500000L, "p95" -> 950000L))
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("a") == ("a", 10L, 10L, 50L, 100L), s"got ${out("a")}")
    assert(out("b") == ("b", 1L, 7L, 7L, 7L), s"got ${out("b")}")
    // ties: the k-th smallest of a multiset is tie-order-free
    val ties = Seq.fill(5)(("t", Some(3L))) ++ Seq(("t", Some(9L)))
    val tOut = Ops.exactPercentiles(ties.toDF("g", "v"), Seq("g"), col("v"),
        Seq("p50" -> 500000L, "p100" -> 1000000L))
      .as[(String, Long, Long, Long)].collect().head
    assert(tOut == (("t", 6L, 3L, 9L)), s"got $tOut")
    // determinism under repartition
    val again = Ops.exactPercentiles((a ++ b).toDF("g", "v").repartition(5),
      Seq("g"), col("v"), Seq("p50" -> 500000L)).orderBy("g").collect().toSeq
    assert(again == Ops.exactPercentiles((a ++ b).toDF("g", "v"), Seq("g"),
      col("v"), Seq("p50" -> 500000L)).orderBy("g").collect().toSeq)
    intercept[IllegalArgumentException](Ops.exactPercentiles(
      ties.toDF("g", "v"), Seq("g"), col("v"), Nil))
    intercept[IllegalArgumentException](Ops.exactPercentiles(
      ties.toDF("g", "v"), Seq("g"), col("v"), Seq("p0" -> 0L)))
    intercept[IllegalArgumentException](Ops.exactPercentiles(
      ties.toDF("g", "v"), Seq("g"), col("v"),
      Seq("p" -> 1L, "p" -> 2L)))
  }

  test("weightedPercentiles: mass-weighted picks, unit-weight identity (X123)") {
    // group a: (v=10, w=1), (v=20, w=8), (v=30, w=1) — W=10:
    // P10 target 1 → 10; P50 target 5 → 20; P90 target 9 → 20;
    // P95 target 9.5 → 30 (cumW 9 < 9.5, next value crosses)
    val df = Seq(("a", 10L, 1L), ("a", 20L, 8L), ("a", 30L, 1L))
      .toDF("g", "v", "w")
    val got = Ops.weightedPercentiles(df, Seq("g"), col("v"), col("w"),
        Seq("p10" -> 100000L, "p50" -> 500000L, "p90" -> 900000L,
          "p95" -> 950000L))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == (("a", 3L, 10L, 10L, 20L, 20L, 30L)), s"got $got")
    // unit weights ≡ exactPercentiles, pinned on the X92 fixture
    val a = (1 to 10).map(i => ("a", i * 10L, 1L)).toDF("g", "v", "w")
    val wp = Ops.weightedPercentiles(a, Seq("g"), col("v"), col("w"),
        Seq("p10" -> 100000L, "p50" -> 500000L, "p95" -> 950000L))
      .select("g", "p10", "p50", "p95").collect().toSeq
    val ep = Ops.exactPercentiles(a, Seq("g"), col("v"),
        Seq("p10" -> 100000L, "p50" -> 500000L, "p95" -> 950000L))
      .select("g", "p10", "p50", "p95").collect().toSeq
    assert(wp == ep, s"weighted/unit mismatch: $wp vs $ep")
    // value ties merge their mass; NULL value/weight rows drop
    val ties = Seq(("t", Some(3L), Some(2L)), ("t", Some(3L), Some(2L)),
      ("t", Some(9L), Some(1L)), ("t", None, Some(5L)),
      ("t", Some(4L), None)).toDF("g", "v", "w")
    val tOut = Ops.weightedPercentiles(ties, Seq("g"), col("v"), col("w"),
        Seq("p50" -> 500000L, "p100" -> 1000000L))
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(tOut == (("t", 3L, 5L, 3L, 9L)), s"got $tOut")
    // determinism under repartition; refusals
    assert(Ops.weightedPercentiles(df.repartition(5), Seq("g"), col("v"),
      col("w"), Seq("p50" -> 500000L)).collect().toSeq ==
      Ops.weightedPercentiles(df, Seq("g"), col("v"), col("w"),
        Seq("p50" -> 500000L)).collect().toSeq)
    refused("weightedPercentiles: non-positive weight 0")(Ops.weightedPercentiles(
      Seq(("g", 1L, 0L)).toDF("g", "v", "w"), Seq("g"), col("v"), col("w"),
      Seq("p50" -> 500000L)).collect())
    intercept[IllegalArgumentException](Ops.weightedPercentiles(
      df, Seq("g"), col("v"), col("w"), Nil))
    intercept[IllegalArgumentException](Ops.weightedPercentiles(
      df, Seq("g"), col("v"), col("w"), Seq("p" -> 1L, "p" -> 2L)))
    // plan pin: tie-collapse Exchange + ONE shared window Exchange; the
    // cumulative/total windows and the final aggregation all ride the
    // group partitioning (the X118 shape)
    val wide = spark.range(300).select(
      (col("id") % 3).cast("string").as("g"), (col("id") % 13).as("v"),
      (col("id") % 5 + 1).as("w"))
    val p = Ops.weightedPercentiles(wide, Seq("g"), col("v"), col("w"),
        Seq("p50" -> 500000L))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected tie-collapse + window Exchanges only:\n$p")
  }

  test("chiSquare: hand-checked 2x2, independence zero, NULL group (X96)") {
    // classic 2×2: a=(x: 30 yes, 10 no), b=(x: 10 yes, 30 no) → N=80,
    // every margin 40, E=20 per cell, χ² = Σ(10)²/20 = 20.0
    val rows = Seq.fill(30)(("x", "yes")) ++ Seq.fill(10)(("x", "no")) ++
      Seq.fill(10)(("y", "yes")) ++ Seq.fill(30)(("y", "no"))
    val out = Ops.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(out.length == 4)
    assert(out.forall(r => r._4 == 20000000L && r._5 == 5000000L &&
      r._6 == 80L && r._7 == 1L && r._8 == 20000000L), s"got ${out.toSeq}")
    // independent columns → every cell term 0 (exactly, by construction)
    val ind = (for { a <- Seq("p", "q"); b <- Seq("u", "v"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val z = Ops.chiSquare(ind, col("a"), col("b"))
      .select("chi2_micro").as[Long].collect()
    assert(z.forall(_ == 0L), s"got ${z.toSeq}")
    // NULL categories are a real group
    val withNull = Seq((Some("x"), Some("y")), (None, Some("y")),
      (Some("x"), None)).toDF("a", "b")
    val cats = Ops.chiSquare(withNull, col("a"), col("b"))
      .select("a").as[String].collect().toSet
    assert(cats.contains("(null)"))
    // determinism under repartition; cardinality guard
    val again = Ops.chiSquare(rows.toDF("a", "b").repartition(7), col("a"),
      col("b")).orderBy("a", "b").collect().toSeq
    assert(again == Ops.chiSquare(rows.toDF("a", "b"), col("a"), col("b"))
      .orderBy("a", "b").collect().toSeq)
    val wide = (1 to 50).map(i => (s"a$i", s"b$i")).toDF("a", "b")
    intercept[IllegalArgumentException](
      Ops.chiSquare(wide, col("a"), col("b"), maxCells = 10))
  }

  test("trendSlopes: exact closed form, negative/fractional slopes, NULL degenerates (X100)") {
    val df = Seq(
      ("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 4L), // slope exactly 2
      ("b", 0L, 5L), ("b", 1L, 3L),                // slope −2 (truncation)
      ("c", 0L, 0L), ("c", 1L, 1L), ("c", 2L, 1L), // 3/6 → 500000 floor
      ("d", 7L, 9L),                               // n=1 → NULL
      ("e", 4L, 1L), ("e", 4L, 9L))                // zero x-variance → NULL
      .toDF("g", "x", "y")
    val got = Ops.trendSlopes(df, Seq("g"), col("x"), col("y"))
      .orderBy("g")
      .as[(String, Long, Option[Long], Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 3L, Some(2000000L), 1000000L, 2000000L),
      ("b", 2L, Some(-2000000L), 500000L, 4000000L),
      ("c", 3L, Some(500000L), 1000000L, 666666L),
      ("d", 1L, None, 7000000L, 9000000L),
      ("e", 2L, None, 4000000L, 5000000L)), s"got $got")
    // determinism + budget refusal
    assert(Ops.trendSlopes(df.repartition(5), Seq("g"), col("x"), col("y"))
      .orderBy("g").as[(String, Long, Option[Long], Long, Long)]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](Ops.trendSlopes(
      Seq(("a", 1L, 2000000000L)).toDF("g", "x", "y"),
      Seq("g"), col("x"), col("y")))
  }

  test("madOutliers: Hampel flags off nearest-rank medians; degenerate MAD → NULL (X101)") {
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 100L),
      ("flat", 7L), ("flat", 7L), ("flat", 7L))
      .toDF("grp", "v")
    val got = Ops.madOutliers(df, Seq("grp"), col("v"), kMicro = 3500000L)
      .orderBy("grp", "v")
      .as[(String, Long, Long, Long, Option[Boolean])].collect().toSeq
    // g: med = 3 (rank ⌈2.5⌉), devs {0,1,1,2,97} → MAD = 1; only 100
    // exceeds 3.5·MAD. flat: MAD = 0 → unknown, not normal
    assert(got == Seq(
      ("flat", 7L, 7L, 0L, None), ("flat", 7L, 7L, 0L, None),
      ("flat", 7L, 7L, 0L, None),
      ("g", 1L, 3L, 1L, Some(false)), ("g", 2L, 3L, 1L, Some(false)),
      ("g", 3L, 3L, 1L, Some(false)), ("g", 4L, 3L, 1L, Some(false)),
      ("g", 100L, 3L, 1L, Some(true))), s"got $got")
    // NULL value flags NULL; NULL group is a real group (null-safe joins)
    val withNulls = Seq((Some("g"), Some(5L)), (Some("g"), None),
      (None, Some(1L)), (None, Some(2L)), (None, Some(9L)))
      .toDF("grp", "v")
    val n = Ops.madOutliers(withNulls, Seq("grp"), col("v"), 3500000L)
    assert(n.filter(col("v").isNull).select("is_outlier")
      .collect()(0).isNullAt(0))
    val nullGrp = n.filter(col("grp").isNull && col("v") === 9L)
      .select("med", "mad").as[(Long, Long)].collect()(0)
    assert(nullGrp == ((2L, 1L)), s"got $nullGrp")
    // determinism + reserved guard
    assert(Ops.madOutliers(df.repartition(7), Seq("grp"), col("v"),
        3500000L).orderBy("grp", "v")
      .as[(String, Long, Long, Long, Option[Boolean])]
      .collect().toSeq == got)
    intercept[IllegalArgumentException](Ops.madOutliers(
      df.withColumn("mad", lit(1)), Seq("grp"), col("v"), 3500000L))
    intercept[IllegalArgumentException](
      Ops.madOutliers(df, Seq("grp"), col("v"), 0L))
  }

  test("miAssociation: zero on independence, ln2 on identity, exact total (X106)") {
    // perfectly independent 2×2: every cell 5 of 20 → PMI 0 everywhere
    val ind = (for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val gi = Ops.miAssociation(ind, col("a"), col("b"))
      .select("pmi_micro", "mi_micro").distinct()
      .as[(Long, Long)].collect().toSet
    assert(gi == Set((0L, 0L)), s"got $gi")
    // perfectly dependent: PMI = ln 2 = 693147µ, MI = same (all mass)
    val dep = ((1 to 10).map(_ => ("x", "u")) ++
      (1 to 10).map(_ => ("y", "v"))).toDF("a", "b")
    val gd = Ops.miAssociation(dep, col("a"), col("b"))
      .orderBy("a").as[(String, String, Long, Long, Long, Long)]
      .collect().toSeq
    assert(gd == Seq(("x", "u", 10L, 693147L, 20L, 693147L),
      ("y", "v", 10L, 693147L, 20L, 693147L)), s"got $gd")
    // NULL categories are real groups; cardinality guard
    val gn = Ops.miAssociation(
      Seq((Option.empty[String], "u")).toDF("a", "b"), col("a"), col("b"))
    assert(gn.select("a").collect()(0).getString(0) == "(null)")
    intercept[IllegalArgumentException](Ops.miAssociation(
      (1 to 50).map(i => (s"a$i", s"b$i")).toDF("a", "b"),
      col("a"), col("b"), maxCells = 10))
  }

  test("woeIv: hand-checked WOE/IV, infinite-WOE refusal (X111)") {
    // A: 3 pos / 1 neg, B: 1 pos / 3 neg — woe(A) = ln 3 = 1098612µ,
    // woe(B) = −ln 3; both cells contribute (±500000 · ±1098612)/1e6 =
    // 549306 → IV = 1098612 (sign-symmetric by construction)
    val df = Seq(("A", true), ("A", true), ("A", true), ("A", false),
      ("B", true), ("B", false), ("B", false), ("B", false))
      .toDF("bin0", "l")
    val got = Ops.woeIv(df, col("bin0"), col("l"))
      .orderBy("bin")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("A", 3L, 1L, 750000L, 250000L, 1098612L, 549306L, 1098612L),
      ("B", 1L, 3L, 250000L, 750000L, -1098612L, 549306L, 1098612L)),
      s"got $got")
    // NULL bins are the real "(null)" bin; NULL labels drop
    val n = Ops.woeIv(Seq((Option.empty[String], Some(true)),
      (Option.empty[String], Some(false)), (Some("x"), Some(true)),
      (Some("x"), Some(false)), (Some("x"), Option.empty[Boolean]))
      .toDF("bin0", "l"), col("bin0"), col("l"))
    assert(n.filter(col("bin") === "(null)").count() == 1 &&
      n.agg(sum(col("n_pos") + col("n_neg"))).collect()(0).getLong(0) == 4)
    // guards: infinite WOE, one-class label, key-like bins, determinism
    refused("has zero positives or negatives")(Ops.woeIv(
      Seq(("A", true), ("B", false)).toDF("bin0", "l"),
      col("bin0"), col("l")).collect())
    intercept[IllegalArgumentException](Ops.woeIv(
      Seq(("A", true), ("A", true)).toDF("bin0", "l"),
      col("bin0"), col("l")))
    intercept[IllegalArgumentException](Ops.woeIv(
      (1 to 20).map(i => (s"b$i", i % 2 == 0)).toDF("bin0", "l"),
      col("bin0"), col("l"), maxBins = 5))
    assert(Ops.woeIv(df.repartition(5), col("bin0"), col("l"))
      .orderBy("bin")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq == got)
  }

  test("bhAdjust: step-up rule, tie-consistent ranks, null family, guards (X131)") {
    // m = 4, α = 50000µ: thresholds k·α = 50k, 100k, 150k, 200k (×m⁻¹
    // via cross-products). p = 10k, 20k, 20k, 500k → pass at j=1,2,3;
    // k* = 3; the tied 20k pair SHARES rank 3 and both reject
    val df = Seq(("f", 1L, 10000L), ("f", 2L, 20000L), ("f", 3L, 20000L),
      ("f", 4L, 500000L)).toDF("fam", "id", "p")
    val got = Ops.bhAdjust(df, Seq("fam"), col("p"), alphaMicro = 50000L)
      .select("id", "bh_rank", "m_tests", "rejected")
      .as[(Long, Long, Long, Boolean)].collect().toMap2
    assert(got == Map(
      1L -> ((1L, 4L, true)), 2L -> ((3L, 4L, true)),
      3L -> ((3L, 4L, true)), 4L -> ((4L, 4L, false))), s"got $got")
    // step-up rescue: a later passing rank rejects EARLIER non-passing
    // ranks too — p = 40k fails k=1 (40k·2 > 1·50k) but p = 45k passes
    // k=2 (45k·2 ≤ 2·50k = 100k), so BOTH reject
    val rescue = Ops.bhAdjust(
      Seq(("g", 1L, 40000L), ("g", 2L, 45000L)).toDF("fam", "id", "p"),
      Seq("fam"), col("p"), 50000L)
      .select("id", "rejected").as[(Long, Boolean)].collect().toMap
    assert(rescue == Map(1L -> true, 2L -> true), s"got $rescue")
    // an all-null family rejects nothing; families fold independently;
    // NULL p drops
    val multi = Seq(("a", 1L, Some(900000L)), ("a", 2L, Some(950000L)),
      ("b", 3L, Some(1000L)), ("b", 4L, None)).toDF("fam", "id", "p")
    val m = Ops.bhAdjust(multi, Seq("fam"), col("p"), 50000L)
      .select("id", "rejected").as[(Long, Boolean)].collect().toMap
    assert(m == Map(1L -> false, 2L -> false, 3L -> true), s"got $m")
    // determinism under repartition; range and reserved-name refusals
    assert(Ops.bhAdjust(df.repartition(5), Seq("fam"), col("p"), 50000L)
      .select("id", "bh_rank", "m_tests", "rejected")
      .as[(Long, Long, Long, Boolean)].collect().toMap2 == got)
    refused("p-value outside [0, 1e6] micros")(Ops.bhAdjust(
      Seq(("f", 1L, 1000001L)).toDF("fam", "id", "p"),
      Seq("fam"), col("p"), 50000L).collect())
    intercept[IllegalArgumentException](Ops.bhAdjust(df, Seq("fam"),
      col("p"), 0L))
    intercept[IllegalArgumentException](Ops.bhAdjust(
      df.withColumn("rejected", lit(true)), Seq("fam"), col("p"), 50000L))
  }

  test("diversityReport: uniform-mix hand case, single-level collapse, " +
      "n=1 NULL simpson, NULL level, determinism (X168)") {
    // u: 4 levels x 2 rows — H = ln 4, Gini-Simpson = 1 - 8/56,
    // eff ~ 4, top share 1/4; s: one level — everything collapses;
    // o: single row — unbiased Simpson needs two draws
    val df = (Seq("a", "b", "c", "d").flatMap(l =>
        Seq(("u", l), ("u", l))) ++
      Seq(("s", "z"), ("s", "z"), ("s", "z")) ++
      Seq(("o", "q"))).toDF("fam", "c")
    val got = Ops.diversityReport(df, Seq("fam"), col("c"))
      .orderBy("fam")
      .as[(String, Long, Long, Long, Option[Long], Long, Long)]
      .collect().toSeq
    val g4 = math.round(1e6 * 2 * math.log(8.0 / 2)) // per-cell chain
    val h4 = g4 * 4 / 8
    val eff4 = math.round(1e6 * math.exp(h4.toDouble / 1e6))
    assert(got == Seq(
      ("o", 1L, 1L, 0L, None, 1000000L, 1000000L),
      ("s", 3L, 1L, 0L, Some(0L), 1000000L, 1000000L),
      ("u", 8L, 4L, h4, Some(1000000L - 8000000L / 56), eff4, 250000L)),
      s"got $got (h4 $h4 eff4 $eff4)")
    // a NULL category is a real level
    val nl = Ops.diversityReport(
      Seq(("f", Some("a")), ("f", Option.empty[String])).toDF("fam", "c"),
      Seq("fam"), col("c")).select("k_levels").as[Long].collect().toSeq
    assert(nl == Seq(2L))
    // a NULL FAMILY key is a real group — the stitch joins are
    // null-safe, so the group survives with its own stats (ADVICE r17)
    val nf = Ops.diversityReport(
      Seq((Option.empty[String], "a"), (None, "b"), (Some("g"), "a"))
        .toDF("fam", "c"),
      Seq("fam"), col("c"))
      .select("fam", "n", "k_levels")
      .as[(Option[String], Long, Long)].collect().toSet
    assert(nf == Set((None, 2L, 2L), (Some("g"), 1L, 1L)), s"got $nf")
    // determinism under repartition
    assert(Ops.diversityReport(df.repartition(7), Seq("fam"), col("c"))
      .orderBy("fam")
      .as[(String, Long, Long, Long, Option[Long], Long, Long)]
      .collect().toSeq == got)
  }

  test("proportionReport: IEEE-chain replica, exact zero/one edge " +
      "bounds, boolean labels, guards (X172)") {
    val df = (Seq.fill(8)(("m", 1L)) ++ Seq.fill(2)(("m", 0L)) ++
      Seq.fill(10)(("z", 0L)) ++ Seq.fill(5)(("o", 1L)))
      .toDF("fam", "y")
    val got = Ops.proportionReport(df, Seq("fam"), col("y"))
      .orderBy("fam")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // replica of the stated chain, same op order
    def wilson(k: Long, n: Long): (Long, Long) = {
      val z2 = 1959964.0 * 1959964.0 / 1e12
      val z = 1959964.0 / 1e6
      val c = (k.toDouble + z2 / 2) / (n.toDouble + z2)
      val hw = z * math.sqrt(k.toDouble * (n.toDouble - k) / n + z2 / 4) /
        (n.toDouble + z2)
      (math.round(1e6 * (c - hw)), math.round(1e6 * (c + hw)))
    }
    val (mLo, mHi) = wilson(8, 10)
    assert(got.find(_._1 == "m").get == (("m", 10L, 8L, 800000L, mLo, mHi)))
    // the Wilson property at the edges: k = 0 pins lo to exactly 0,
    // k = n pins hi to exactly 1e6 (center = hw by construction)
    val zRow = got.find(_._1 == "z").get
    assert(zRow._3 == 0L && zRow._4 == 0L && zRow._5 == 0L &&
      zRow._6 > 0L && zRow._6 < 1000000L, s"got $zRow")
    val oRow = got.find(_._1 == "o").get
    assert(oRow._6 == 1000000L && oRow._5 > 0L && oRow._5 < 1000000L,
      s"got $oRow")
    // boolean labels; non-binary refusal; z guard
    assert(Ops.proportionReport(
      Seq(("f", true), ("f", false)).toDF("fam", "y"), Seq("fam"),
      col("y")).select("k_pos").as[Long].collect().toSeq == Seq(1L))
    refused("proportionReport: label must be exactly 0/1")(Ops.proportionReport(
      Seq(("f", 2L)).toDF("fam", "y"), Seq("fam"), col("y")).collect())
    // a FRACTIONAL label refuses too — it must not truncate to 0/1 and
    // slip past the refusal (ADVICE r17)
    refused("proportionReport: label must be exactly 0/1")(Ops.proportionReport(
      Seq(("f", 0.5)).toDF("fam", "y"), Seq("fam"), col("y")).collect())
    intercept[IllegalArgumentException](Ops.proportionReport(df,
      Seq("fam"), col("y"), zMicro = 0L))
    // determinism under repartition
    assert(Ops.proportionReport(df.repartition(7), Seq("fam"), col("y"))
      .orderBy("fam")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq == got)
  }

  private implicit class Map2Ops[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
