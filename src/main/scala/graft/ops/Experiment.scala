package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.core.Refuse

/** X86 — A/B experiment scorecard: per-arm means, absolute and relative
  * lift, and the Welch two-sample z statistic against a named control —
  * the readout every experimentation platform renders from deterministic
  * hash assignment ([[Sampling.assignSplit]] IS the assignment half; this
  * is the analysis half; Kohavi et al., "Trustworthy Online Controlled
  * Experiments", is the playbook). Unequal variances are the online
  * default, hence Welch rather than pooled; with experiment-sized n the
  * z and t readings agree to noise.
  *
  * Determinism: the corpus-sized work is ONE arm-keyed aggregation
  * carrying exact integers — n, Σmetric (Long micros), Σmetric² as
  * DECIMAL(38,0) (a squared micro overflows Long; decimal keeps the sum
  * exact and addition-order-free). Everything after runs on the ≤
  * `maxArms` collected rows: variance numerators are exact BigInt
  * cross-products (n·Σx² − (Σx)²), and the ONLY floats are the final
  * BigInt→double conversions, two divisions, one sqrt, and the micro
  * re-pin. Division, multiplication, and sqrt are IEEE-correctly-rounded
  * operations, so an engine replaying the same formula on the same exact
  * integers lands on the same bits — unlike exp/ln there is no
  * last-ulp ambiguity to document away.
  *
  * Output: one row per non-control arm —
  * `(arm, n_control, n_arm, mean_control_micro, mean_arm_micro,
  * diff_micro, lift_micro, z_micro, significant)` — means as
  * truncate-toward-zero micros (the division semantics Spark's DIV and
  * DuckDB's // share on either sign), `diff` in absolute micros, `lift`
  * relative in micros (NULL
  * when the control mean is ≤ 0 — a ratio against a non-positive
  * baseline is noise), `significant` at the two-sided 5% line
  * (|z| > 1.96). Arms need n ≥ 2 (Welch needs a variance); NULL metrics
  * drop; NULL arms drop (no assignment — upstream's problem). */
object Experiment {

  def abScorecard(df: DataFrame, arm: Column, metricMicro: Column,
      control: String, maxArms: Int = 100): DataFrame = {
    require(maxArms >= 2, s"maxArms must be >= 2, got $maxArms")
    val base = df.select(arm.cast("string").as("__a"),
        metricMicro.cast("long").as("__m"))
      .filter(col("__a").isNotNull && col("__m").isNotNull)
    val agg = base.groupBy("__a").agg(
        count(lit(1)).as("n"),
        // both sums as exact decimal: a Long Σmetric would wrap silently
        // on a corpus-sized arm, and Σmetric² overflows Long immediately
        sum(col("__m").cast("decimal(38,0)")).as("s"),
        sum(col("__m").cast("decimal(38,0)") * col("__m")).as("ssq"))
      // limit-then-driver-sort: the cardinality guard needs no cluster
      // Exchange+Sort — the frame is arms-sized and the downstream map is
      // keyed, so ordering only matters for deterministic error text
      .limit(maxArms + 1).collect().sortBy(_.getString(0))
    require(agg.length <= maxArms,
      s"more than $maxArms arms — an arm column with key-like cardinality " +
        "is a unit id, not an assignment")
    val byArm = agg.map(r => r.getString(0) ->
      (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger))).toMap
    require(byArm.contains(control),
      s"control arm '$control' absent; arms = ${byArm.keys.toSeq.sorted.mkString(", ")}")
    byArm.foreach { case (a, (n, _, _)) =>
      require(n >= 2, s"arm '$a' has $n rows — Welch needs a variance") }
    val (nc, sc, qc) = byArm(control)
    // TRUNCATE toward zero on sums of either sign: both Spark's DIV and
    // DuckDB's // truncate (verified: -7 // 2 = -3), so truncation is the
    // one integer-division semantics every engine in the chain shares
    def truncDiv(num: BigInt, den: BigInt): Long = (num / den).toLong
    def meanMicro(n: Long, s: BigInt): Long = truncDiv(s, BigInt(n))
    // Welch variance-over-n term as an exact rational (A, B): s²/n =
    // (n·Σx² − (Σx)²) / (n²·(n−1)); the double conversion at the END is
    // the one lossy step and is round-to-nearest in every engine
    def seTerm(n: Long, s: BigInt, q: BigInt): (BigInt, BigInt) =
      (BigInt(n) * q - s * s, BigInt(n) * n * (n - 1))
    val (ac, bc) = seTerm(nc, sc, qc)
    val mc = meanMicro(nc, sc)
    val spark = df.sparkSession
    val out = byArm.toSeq.filter(_._1 != control).sortBy(_._1).map {
      case (a, (nt, st, qt)) =>
        val mt = meanMicro(nt, st)
        val (at, bt) = seTerm(nt, st, qt)
        val se = math.sqrt(at.toDouble / bt.toDouble + ac.toDouble / bc.toDouble)
        val z =
          if (se == 0) null
          else java.lang.Long.valueOf(math.round((mt - mc) / se * 1e6))
        val lift =
          if (mc <= 0) null
          else java.lang.Long.valueOf(
            truncDiv((BigInt(mt) - BigInt(mc)) * 1000000, BigInt(mc)))
        org.apache.spark.sql.Row(a, nc, nt, mc, mt, mt - mc, lift, z,
          if (z == null) null
          else java.lang.Boolean.valueOf(math.abs(z.longValue()) > 1960000L))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        StructField("arm", StringType, nullable = false),
        StructField("n_control", LongType, nullable = false),
        StructField("n_arm", LongType, nullable = false),
        StructField("mean_control_micro", LongType, nullable = false),
        StructField("mean_arm_micro", LongType, nullable = false),
        StructField("diff_micro", LongType, nullable = false),
        StructField("lift_micro", LongType, nullable = true),
        StructField("z_micro", LongType, nullable = true),
        StructField("significant", BooleanType, nullable = true))))
  }

  /** X110's θ: the pooled regression coefficient cov(x, y)/var(x) of the
    * metric on the pre-period covariate, as truncating micros — the same
    * four exact DECIMAL(38,0) sums as [[Ops.trendSlopes]] (CUPED's θ IS
    * an OLS slope), one aggregation, one 1-row collect. Budget (probed):
    * |x|, |y| ≤ 1e9 and N ≤ 1e6 keep num·1e6 inside 38 digits
    * single-stage — experiments are SAMPLES (the q216 stance).
    * A zero-variance covariate is REFUSED: there is nothing to adjust
    * with, and a silent θ=0 would report "CUPED ran" untruthfully. */
  def cupedTheta(df: DataFrame, metricMicro: Column,
      covariateMicro: Column): Long = {
    import org.apache.spark.sql.types.DecimalType
    val d = DecimalType(38, 0)
    // the one aggregation below reads every row, so the budget refusal
    // fires in its collect
    val base = Refuse.rows(df.select(metricMicro.cast("long").as("__y"),
        covariateMicro.cast("long").as("__x"))
      .filter(col("__x").isNotNull && col("__y").isNotNull),
      (abs(col("__x")) > 1000000000L || abs(col("__y")) > 1000000000L) -> lit(
        "cupedTheta: |metric| or |covariate| > 1e9 µ — rescale upstream " +
          "(the DECIMAL(38) single-stage budget)"))
    val r = base.agg(count(lit(1)).as("n"),
      sum(col("__x").cast(d)).as("sx"), sum(col("__y").cast(d)).as("sy"),
      sum((col("__x") * col("__y")).cast(d)).as("sxy"),
      sum((col("__x") * col("__x")).cast(d)).as("sxx"))
      .selectExpr("n",
        "CAST(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0 THEN " +
          "(n * sxy - sx * sy) * 1000000 DIV (n * sxx - sx * sx) " +
          "END AS BIGINT) AS theta")
      .collect()(0)
    require(r.getLong(0) <= 1000000L,
      s"cupedTheta: N=${r.getLong(0)} exceeds the budget (1e6) — " +
        "experiments are samples; sample first")
    require(!r.isNullAt(1),
      "cupedTheta: covariate has zero variance (or n < 2) — nothing to " +
        "adjust with")
    r.getLong(1)
  }

  /** X110 — CUPED variance-reduction adjustment (Deng, Xu, Kohavi &
    * Walker, WSDM'13 "Improving the sensitivity of online controlled
    * experiments by utilizing pre-experiment data"): the standard
    * experimentation-platform trick — subtract the part of the metric
    * the PRE-period covariate already predicts, and the arm comparison
    * keeps its expectation while shedding (up to) ρ² of its variance,
    * i.e. the same experiment reads significant weeks earlier.
    *
    * Adjusted metric per row: `adj = y − (θ·x) DIV 1e6` with
    * [[cupedTheta]]'s pooled θ — deliberately DROPPING the canonical
    * `+ θ·x̄` term: it is arm-independent, so every difference,
    * variance, and z statistic is unchanged, and dropping it keeps the
    * per-row arithmetic a single exact floor both engines replay (the
    * product rides DECIMAL(38,0) — θ against a degenerate covariate can
    * exceed what a Long product holds). θ is computed on the POOLED
    * frame, never per arm — per-arm θ re-introduces the bias CUPED's
    * proof excludes (the covariate must be treatment-independent, which
    * pre-period data is by construction). Rows with a NULL metric or
    * covariate adjust to NULL (no prediction, no adjustment — they drop
    * from any downstream scorecard exactly as raw NULLs do). */
  def cupedAdjust(df: DataFrame, metricMicro: Column,
      covariateMicro: Column, outCol: String = "adj_micro"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"column name $outCol is reserved by cupedAdjust")
    import org.apache.spark.sql.types.DecimalType
    val theta = cupedTheta(df, metricMicro, covariateMicro)
    val d38 = DecimalType(38, 0)
    // truncating (θ·x) DIV 1e6 in Column arithmetic: subtract the
    // remainder (which follows the dividend's sign in both engines),
    // then the decimal division is exactly divisible — no rounding mode
    // in play anywhere
    val prod = covariateMicro.cast("long").cast(d38) * lit(theta).cast(d38)
    val truncDiv = ((prod - (prod % lit(1000000L))) / lit(1000000L))
      .cast("long")
    df.withColumn(outCol,
      when(metricMicro.isNull || covariateMicro.isNull,
        lit(null).cast("long"))
        .otherwise(metricMicro.cast("long") - truncDiv))
  }

  /** X112 — minimum-detectable-effect / power report: the question asked
    * BEFORE every experiment ("how small a lift can this traffic even
    * see?") and audited after every null result ("was the test powered
    * to see what we hoped?"). Per arm, the two-sample normal
    * approximation at equal allocation:
    * `MDE = (z_α/2 + z_β) · s · √(2/n)` — detectable absolute lift at
    * significance α and power 1−β against an equal-sized arm.
    *
    * Determinism: z quantiles are HARDCODED micro literals (defaults
    * 1959964 = z₀.₀₂₅ and 841621 = z₀.₂₀ — the 5%/80% convention; no
    * engine evaluates an inverse normal), n/Σ/Σ² are the [[abScorecard]]
    * exact integers, and the presentation chain — one division for the
    * sample variance, one sqrt, two multiplies, one final
    * `round(·1e6)` — is IEEE-correctly-rounded step for step, so both
    * engines produce identical bits when they state the SAME formula in
    * the SAME order (the q234 Welch discipline; only the round-boundary
    * measure-zero risk remains, as everywhere). Arms need n ≥ 2; the
    * relative MDE divides by the arm mean (NULL when the mean is 0 —
    * relative lift against nothing is undefined).
    *
    * Scale: ONE arm-keyed aggregation with map-side combine; the output
    * is arms-sized. Output: `(arm, n, mean_micro, sd_micro,
    * mde_abs_micro, mde_rel_micro)`. */
  def mdeReport(df: DataFrame, arm: Column, metricMicro: Column,
      zAlphaMicro: Long = 1959964L, zBetaMicro: Long = 841621L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(zAlphaMicro > 0 && zBetaMicro >= 0,
      s"need zAlpha > 0 and zBeta >= 0, got $zAlphaMicro/$zBetaMicro")
    val d = DecimalType(38, 0)
    val agg = df.select(arm.cast("string").as("arm"),
        metricMicro.cast("long").as("__m"))
      .filter(col("arm").isNotNull && col("__m").isNotNull)
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(col("__m").cast(d)).as("__s"),
        sum(col("__m").cast(d) * col("__m")).as("__q"))
    val small = agg.filter(col("n") < 2).limit(1).collect()
    require(small.isEmpty,
      s"arm '${small.headOption.map(_.get(0)).orNull}' has fewer than 2 " +
        "rows — a variance (and hence an MDE) needs n >= 2")
    // sample variance s² = (n·Σx² − (Σx)²) / (n·(n−1)) — exact integer
    // numerator/denominator, ONE double division, one sqrt: the same
    // last-step-lossy discipline as the Welch z
    val zsum = (zAlphaMicro + zBetaMicro).toDouble / 1e6
    agg
      .withColumn("__num", (col("n").cast(d) * col("__q") -
        col("__s") * col("__s")).cast("double"))
      .withColumn("__sd", sqrt(col("__num") /
        (col("n") * (col("n") - 1)).cast("double")))
      .withColumn("mean_micro", expr("CAST(__s DIV n AS BIGINT)"))
      .withColumn("sd_micro", round(col("__sd")).cast("long"))
      .withColumn("mde_abs_micro",
        round(lit(zsum) * col("__sd") * sqrt(lit(2.0) / col("n")))
          .cast("long"))
      .withColumn("mde_rel_micro",
        when(col("mean_micro") =!= 0,
          expr("CAST(mde_abs_micro * 1000000 DIV abs(mean_micro) AS BIGINT)")))
      .select(col("arm"), col("n"), col("mean_micro"), col("sd_micro"),
        col("mde_abs_micro"), col("mde_rel_micro"))
  }
}
