package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Refuse

/** X79 — Poisson-bootstrap confidence intervals: error bars for corpus
  * metrics computed in ONE scan, the way uncertainty is actually
  * estimated over data too big to resample (Chamandy et al., "Estimating
  * uncertainty for massive data streams", Google 2012; Kleiner et al.'s
  * BLB is the other published answer). The classical bootstrap draws B
  * resamples of n rows WITH replacement — unusable at 100 TB because
  * each resample is a coordinated global draw. The Poisson bootstrap
  * replaces the multinomial row counts with independent Poisson(1)
  * weights per (row, replicate) — for large n the distributions coincide
  * — which makes the whole procedure embarrassingly parallel: every row
  * computes its B weights locally, partial aggregation reduces each
  * replicate to (Σw, Σw·x) map-side, and only B rows ever cross the
  * shuffle.
  *
  * Determinism (the [[graft.text.Dsir]] hash-randomness stance): the
  * weight for (id, replicate b) derives from the md5-uniform of
  * (seed, b, id) pushed through the Poisson(1) inverse CDF — the CDF
  * levels are pre-floored to 32-bit INTEGER thresholds
  * ([[poissonThresholds]]), so the draw is a chain of integer
  * comparisons any engine replays bit-for-bit; no Random, no float
  * comparison, identical under retries and re-partitionings. The tail
  * past the last threshold (probability < 1e-9 per cell) caps at
  * `thresholds.size` — the truncation bias is orders of magnitude below
  * the bootstrap's own Monte-Carlo error at any sane B.
  *
  * Replicate means are exact-decimal Σw·x over integer Σw (addition-
  * order-free, [[Ops.sumDec]]'s stance) rounded to micros, and the CI
  * bounds are ORDER STATISTICS over the B replicate means (percentile
  * bootstrap): lo = the ⌈αB⌉-th smallest, hi = the ⌈(1−α)B⌉-th — exact
  * integer indices, no interpolation to diverge on. Cost is B weight
  * draws per row in one pass (the documented trade-off: B multiplies
  * map-side work, never shuffle width), so B in the low hundreds is the
  * operating range — the same knob every published deployment tunes. */
object Bootstrap {

  /** Cumulative Poisson(1) CDF levels floored to 32-bit integer
    * thresholds: weight(u32) = number of thresholds ≤ u32 (equivalently
    * the smallest k with u32 < t_k). Public so oracles rebuild the same
    * chain from the same longs. */
  val poissonThresholds: Seq[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var term = math.exp(-1.0) // e^-1 / 0!
    var cum = term
    var k = 1
    var t = math.floor(cum * 4294967296.0).toLong
    while (t < 4294967295L) {
      buf += t
      term /= k
      cum += term
      k += 1
      t = math.floor(cum * 4294967296.0).toLong
    }
    buf += 4294967295L // absorbing cap: u32 can never reach 2^32
    buf.toSeq
  }

  /** The Poisson(1) weight of `u32` (a uniform 32-bit integer column). */
  private def weightOf(u32: Column): Column =
    poissonThresholds.zipWithIndex.foldRight(
        lit(poissonThresholds.size.toLong)) { case ((t, k), acc) =>
      when(u32 < t, k.toLong).otherwise(acc)
    }

  /** One-scan percentile-bootstrap CI for the mean of `value` (values
    * exact at ≤ 6 decimals — they are pinned to integer micros up
    * front). `id` must be row-unique and deterministic (a key, not a
    * synthesized ordinal) — it seeds each row's weights. Returns ONE
    * row: (n, replicates, mean_micro, lo_micro, hi_micro), the
    * full-sample mean plus the [alphaMicro, 1−alphaMicro] percentile
    * interval. NULL ids or values are refused (a silently dropped row
    * would shift every replicate identically and the CI would not
    * cover it).
    *
    * Cost engineering (this was the suite's slowest query at 75 s
    * before; ~13 s after, same contract): ONE md5 per (row, replicate
    * GROUP of 4) — an md5 yields 128 bits and a weight draw needs 32,
    * so hex slices q·8+1..q·8+8 seed replicates 4g..4g+3 (the oracle
    * replays the same slices); the uniform is projected ONCE before the
    * threshold chain (inlined, codegen CSE does NOT rescue a 12-way
    * duplicated md5); and the weighted sums stay in LONG via a 2²⁰
    * hi/lo split of the micro values — Σw·(m DIV 2²⁰) and Σw·(m % 2²⁰)
    * reassemble exactly driver-side as BigInt (truncating DIV/% are a
    * reconstruction pair for either sign), dodging 15M per-row Decimal
    * allocations. Replicate means are exact integer half-away-from-zero
    * divisions — no float anywhere. Budget: |value| ≤ 1e6 and
    * n ≤ 7e11 rows keep both Long sums exact; refused past that. */
  def meanCI(df: DataFrame, id: Column, value: Column, replicates: Int,
      seed: String, alphaMicro: Long = 25000L): DataFrame = {
    require(replicates >= 20 && replicates <= 10000,
      s"replicates must be in [20, 10000], got $replicates")
    require(alphaMicro > 0 && 2 * alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 5e5), got $alphaMicro")
    require(seed.nonEmpty, "seed must be non-empty")
    // the totals collect below reads every row, so the NULL refusal
    // fires in it, ahead of its own checks
    val base = Refuse.rows(df.select(id.cast("string").as("__id"),
      value.cast("double").as("__v")),
      (col("__id").isNull || col("__v").isNull) -> lit(
        "meanCI: NULL id or value — filter upstream explicitly; a silent " +
          "drop would shift every replicate and the interval would not " +
          "cover it"))
    val m = base.select(col("__id"),
      expr("CAST(round(__v * 1000000) AS BIGINT)").as("__m"))
    val tot = m.agg(count(lit(1)),
      sum(col("__m").cast(DecimalType(38, 0))),
      max(abs(col("__m")))).collect()(0)
    val nRows = tot.getLong(0)
    require(nRows >= 1, "meanCI: empty input")
    require(tot.getLong(2) <= 1000000000000L && nRows <= 700000000000L,
      "meanCI: |value| must be <= 1e6 and n <= 7e11 to keep the exact " +
        "Long sum budget — rescale the metric or aggregate upstream")
    val groups = (replicates + 3) / 4
    val quads = array((0 until 4).map(q => struct(
      (col("__g") * 4 + q).as("b"),
      conv(substring(col("__h"), q * 8 + 1, 8), 16, 10).cast("long")
        .as("u"))): _*)
    // Spread the rows before the B-fold explode+md5 fan-out: the scan's
    // parallelism is file/row-group-bounded (a single-row-group parquet
    // file is ONE task no matter the split config), and B weight draws
    // per row is exactly the map-heavy shape that must ride every core.
    // Hash-partitioned on the row key (deterministic under retries —
    // guide §2.5's rand-repartition caveat). Weights are keyed on
    // (seed, g, id) alone, so placement cannot change any value. The
    // partition count is EXPLICIT (defaultParallelism — the core count,
    // a scale knob, never a constant): a count-less keyed repartition
    // is AQE-coalescible, and a ~MB-sized shuffle coalesces back to ONE
    // partition — exactly the serialization this spread exists to break.
    val reps = m
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .select(col("__id"), col("__m"),
        explode(sequence(lit(0), lit(groups - 1))).as("__g"))
      .select(col("__m"),
        md5(concat(lit(s"$seed:"), col("__g").cast("string"), lit(":"),
          col("__id"))).as("__h"),
        col("__g"))
      .select(col("__m"), explode(quads).as("__q"))
      .filter(col("__q").getField("b") < replicates)
      .select(col("__q").getField("b").as("__b"),
        weightOf(col("__q").getField("u")).as("__w"), col("__m"))
      .groupBy(col("__b"))
      .agg(sum(col("__w")).as("__n"),
        sum(col("__w") * expr("__m DIV 1048576")).as("__shi"),
        sum(col("__w") * expr("__m % 1048576")).as("__slo"))
      .collect() // ≤ replicates rows — the bounded artifact of the scan
    require(reps.length == replicates, s"meanCI: ${reps.length} replicate " +
      s"rows for $replicates replicates — grouping broke")
    // exact half-away-from-zero integer division, the one rounding both
    // Spark and DuckDB can replay with no doubles involved
    def halfAway(s: BigInt, n: BigInt): Long = {
      val v = if (s >= 0) (2 * s + n) / (2 * n) else -((2 * (-s) + n) / (2 * n))
      v.toLong
    }
    val means = reps.map { r =>
      val n = r.getLong(1)
      require(n > 0,
        "meanCI: a replicate drew zero total weight — the corpus is too " +
          "small to bootstrap (n in the single digits); report the plain " +
          "mean instead")
      halfAway(BigInt(r.getLong(2)) * 1048576 + BigInt(r.getLong(3)), n)
    }.sorted
    val loIdx = ((alphaMicro * replicates + 999999L) / 1000000L).max(1L)
    val hiIdx = (((1000000L - alphaMicro) * replicates + 999999L)
      / 1000000L).min(replicates.toLong)
    val meanAll = halfAway(BigInt(tot.getDecimal(1).toBigInteger), nRows)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nRows, replicates, meanAll,
      means(loIdx.toInt - 1), means(hiIdx.toInt - 1)))
      .toDF("n", "replicates", "mean_micro", "lo_micro", "hi_micro")
  }
}
