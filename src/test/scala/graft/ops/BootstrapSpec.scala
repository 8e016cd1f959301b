package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  test("Poisson thresholds: floored CDF levels, monotone, capped") {
    val t = Bootstrap.poissonThresholds
    assert(t.head == math.floor(math.exp(-1.0) * 4294967296.0).toLong)
    assert(t == t.sorted && t.distinct == t)
    assert(t.last == 4294967295L)
    // P(0) ≈ e^-1 and mean ≈ 1 under the integer-threshold draw
    val p0 = t.head.toDouble / 4294967296.0
    assert(math.abs(p0 - math.exp(-1.0)) < 1e-9)
  }

  test("meanCI replays against an independent MessageDigest mechanism replica (X79)") {
    val n = 50
    val b = 30
    val rows = (0 until n).map(i => (i.toLong, 10.0 + (i % 7) * 0.25))
    val df = rows.toDF("id", "v")
    val got = Bootstrap.meanCI(df, col("id"), col("v"), b, "t79")
      .as[(Long, Int, Long, Long, Long)].collect().head

    // independent replica: quad-sliced md5 draw (one digest seeds four
    // replicates), threshold chain, exact integer micro sums, and the
    // half-away-from-zero integer mean
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(rep: Int, id: Long): Long = {
      md.reset()
      val hex = md.digest(s"t79:${rep / 4}:$id".getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(rep % 4 * 8, rep % 4 * 8 + 8), 16)
    }
    def w(u: Long): Long = {
      val i = Bootstrap.poissonThresholds.indexWhere(u < _)
      if (i < 0) Bootstrap.poissonThresholds.size.toLong else i.toLong
    }
    def halfAway(s: BigInt, c: BigInt): Long =
      (if (s >= 0) (2 * s + c) / (2 * c) else -((2 * (-s) + c) / (2 * c))).toLong
    val means = (0 until b).map { rep =>
      var c = 0L
      var s = BigInt(0)
      rows.foreach { case (id, v) =>
        val wt = w(u32(rep, id))
        c += wt
        s += BigInt(math.round(v * 1e6)) * wt
      }
      halfAway(s, c)
    }.sorted
    val loIdx = math.max(1, math.ceil(0.025 * b).toInt)
    val hiIdx = math.min(b, math.ceil(0.975 * b).toInt)
    val meanAll = halfAway(
      rows.map(r => BigInt(math.round(r._2 * 1e6))).sum, n)
    assert(got == ((n.toLong, b, meanAll, means(loIdx - 1), means(hiIdx - 1))),
      s"got $got, replica says (${n}, $b, $meanAll, " +
        s"${means(loIdx - 1)}, ${means(hiIdx - 1)})")
    // the interval brackets the point estimate on this near-symmetric data
    assert(got._4 <= got._3 && got._3 <= got._5)
    // deterministic under re-partitioning; sensitive to the seed
    val again = Bootstrap.meanCI(df.repartition(7), col("id"), col("v"),
      b, "t79").as[(Long, Int, Long, Long, Long)].collect().head
    assert(again == got)
    val rot = Bootstrap.meanCI(df, col("id"), col("v"), b, "u79")
      .as[(Long, Int, Long, Long, Long)].collect().head
    assert(rot != got)
  }

  test("guards: replicate range, alpha, NULL refusal, degenerate corpus") {
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    intercept[IllegalArgumentException](
      Bootstrap.meanCI(df, col("id"), col("v"), 5, "s"))
    intercept[IllegalArgumentException](
      Bootstrap.meanCI(df, col("id"), col("v"), 50, "s", alphaMicro = 500000L))
    intercept[IllegalArgumentException](
      Bootstrap.meanCI(df, col("id"), col("v"), 50, ""))
    val withNull = Seq((Some(1L), Some(1.0)), (Some(2L), None))
      .toDF("id", "v")
    refused("NULL id or value")(
      Bootstrap.meanCI(withNull, col("id"), col("v"), 50, "s"))
    // a 1-row corpus all but surely draws a zero-weight replicate
    val tiny = Seq((1L, 1.0)).toDF("id", "v")
    val z = intercept[IllegalArgumentException](
      Bootstrap.meanCI(tiny, col("id"), col("v"), 100, "s"))
    assert(z.getMessage.contains("zero total weight"))
  }
}
