package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Refuse

/** X121/X122 — the nonparametric trend kit: Theil-Sen's robust slope
  * and the Mann-Kendall trend test, the standard pairing for "is this
  * metric drifting, and how fast, when I can't trust a least-squares
  * fit" (one wild week wrecks X100's OLS slope; these have ~29%
  * breakdown and need no distributional assumption — the X101 robust
  * stance applied to trends; X115's Spearman measures the AGREEMENT of
  * two orderings, these measure one series against time itself).
  *
  * Both consume the same per-group PAIR frame — every (i, j) with
  * x_i < x_j, built by one null-safe self-join inside the group — and
  * both carry the same honesty about that: pairs are quadratic in group
  * size BY CONSTRUCTION (the SCALING.md q31 lesson: measure it, bound
  * it, say it), so `maxN` REFUSES groups past the budget (default 1e4 →
  * ≤ 5e7 pairs per group) with "aggregate to coarser periods first" —
  * a trend over more than 10⁴ points should be a trend over buckets.
  *
  * Exactness: pair slopes are `Δy·1e6 DIV Δx` (TRUNCATING division,
  * the shared negative semantics, X86); the Theil-Sen estimate is the
  * nearest-rank median of pair slopes ([[Ops.exactPercentiles]] — a
  * value IN the data, no interpolation to diverge on, the X92
  * discipline); Mann-Kendall's S is an exact integer pair-sign sum and
  * its tie-corrected variance an exact integer numerator over 18, with
  * only the final z presentation (one division, one sqrt, one multiply,
  * one round) touching doubles — the q234 chain. */
object TrendTests {

  /** Per-group ordered pairs via one null-safe self-join: columns
    * `groups… , __x, __y, __x2, __y2` with __x < __x2. NULL x/y drop
    * before pairing. */
  private def pairFrame(base: DataFrame, groups: Seq[String]): DataFrame = {
    val r = base.select(groups.zipWithIndex.map { case (g, i) =>
      col(g).as(s"__g$i") } :+ col("__x").as("__x2") :+
      col("__y").as("__y2"): _*)
    val cond = groups.zipWithIndex
      .map { case (g, i) => base(g) <=> r(s"__g$i") }
      .foldLeft(base("__x") < r("__x2"))(_ && _)
    base.join(r, cond).drop(groups.indices.map(i => s"__g$i"): _*)
  }

  private def boundedBase(df: DataFrame, groups: Seq[String], x: Column,
      y: Column, maxN: Int, op: String): DataFrame = {
    require(maxN >= 2 && maxN <= 100000,
      s"maxN must be in [2, 1e5], got $maxN (the pair budget AND the " +
        "Long bound of the variance cubic)")
    val base = df.select(groups.map(col) :+ x.cast("long").as("__x") :+
        y.cast("long").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // one probe pass folds all budgets (the X100 discipline): the group
    // count AND both magnitude bounds ride the same per-group aggregation
    val probe = base.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("__c"), max(abs(col("__x"))).as("__mx"),
        max(abs(col("__y"))).as("__my"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("__c"),
        coalesce(max(col("__mx")), lit(0L)).as("__mx"),
        coalesce(max(col("__my")), lit(0L)).as("__my"))
      .collect()(0)
    require(probe.getLong(0) <= maxN,
      s"$op: a group has ${probe.getLong(0)} points (> $maxN) — pairs " +
        "are quadratic by construction; aggregate to coarser periods first")
    require(probe.getLong(1) <= 1000000000L && probe.getLong(2) <= 1000000000L,
      s"$op: |x| or |y| > 1e9 — pass period indexes and bounded integer " +
        "metrics (the Long slope budget)")
    base
  }

  /** X121 — Theil-Sen robust slope per group (Theil 1950; Sen 1968):
    * the nearest-rank median of all pairwise slopes. Pairs with equal x
    * are EXCLUDED (infinite slope — the classical estimator's rule), so
    * a group whose x values are all tied yields no pairs and is ABSENT
    * ("no trend measurable", the steps-only X104 stance). Output:
    * `(groups…, n_pairs, ts_slope_micro)`. */
  def theilSen(df: DataFrame, groups: Seq[String], x: Column, y: Column,
      maxN: Int = 10000): DataFrame = {
    val base = boundedBase(df, groups, x, y, maxN, "theilSen")
    // nullif keeps the division total: whole-stage codegen can evaluate
    // the fused projection before the join's residual __x < __x2 check,
    // so an unguarded DIV throws on the equal-x rows the join is about
    // to discard (ANSI divide-by-zero — measured, not hypothetical)
    val slopes = pairFrame(base, groups)
      .select(groups.map(col) :+
        expr("(__y2 - __y) * 1000000 DIV nullif(__x2 - __x, 0)").as("__s"): _*)
    Ops.exactPercentiles(slopes, groups, col("__s"),
        Seq(("ts_slope_micro", 500000L)))
      .withColumnRenamed("n", "n_pairs")
  }

  /** X122 — Mann-Kendall trend test per group (Mann 1945; Kendall's S):
    * S = Σ_{x_i<x_j} sign(y_j − y_i); under H₀ (no trend) S is ~normal
    * with the tie-corrected variance 18·Var = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5) over y-tie groups t. Duplicate x per group is
    * REFUSED (the classical test assumes one observation per time; two
    * values at one time make sign pairs ill-ordered — the X109/X120
    * stance). The z presentation applies the standard continuity
    * correction (S ∓ 1 toward 0) over the exact integer variance
    * numerator: `z_micro = round((S − sgn(S)) / sqrt(var18 / 18) · 1e6)`
    * — one IEEE chain; all-tied-y groups (zero variance) emit NULL z.
    * Groups with n < 2 have no pairs and are ABSENT. Output:
    * `(groups…, n, s_stat, var18, z_micro)`. */
  def mannKendall(df: DataFrame, groups: Seq[String], x: Column, y: Column,
      maxN: Int = 10000): DataFrame = {
    val base = boundedBase(df, groups, x, y, maxN, "mannKendall")
    val dup = base.groupBy(groups.map(col) :+ col("__x"): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      "mannKendall: duplicate (group, x) observation — one value per " +
        "time point; aggregate upstream")
    val s = pairFrame(base, groups)
      .select(groups.map(col) :+
        signum(col("__y2") - col("__y")).cast("long").as("__sg"): _*)
      .groupBy(groups.map(col): _*)
      .agg(sum(col("__sg")).as("s_stat"), count(lit(1)).as("__np"))
    val nPer = base.groupBy(groups.map(col): _*).agg(count(lit(1)).as("n"))
    val ties = base.groupBy(groups.map(col) :+ col("__y"): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(groups.map(col): _*)
      .agg(sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tc"))
    def joinOn(l: DataFrame, r: DataFrame): DataFrame = {
      val rr = r.select(groups.zipWithIndex.map { case (g, i) =>
        col(g).as(s"__j$i") } ++
        r.columns.filterNot(groups.contains).map(col).toSeq: _*)
      val cond = groups.zipWithIndex
        .map { case (g, i) => l(g) <=> rr(s"__j$i") }.reduce(_ && _)
      l.join(rr, cond).drop(groups.indices.map(i => s"__j$i"): _*)
    }
    joinOn(joinOn(s, nPer), ties)
      .withColumn("var18",
        expr("n * (n - 1) * (2 * n + 5) - __tc"))
      .withColumn("z_micro", when(col("var18") > 0, round(
        (col("s_stat") - signum(col("s_stat")).cast("long")).cast("double") /
          sqrt(col("var18").cast("double") / 18.0) * 1e6).cast("long")))
      .select(groups.map(col) :+ col("n") :+ col("s_stat") :+
        col("var18") :+ col("z_micro"): _*)
  }

  /** X160 — Pettitt change-point test per group (Pettitt, JRSS-C
    * 1979): [[Ops]]' X80 CUSUM is the SEQUENTIAL alarm with a tuned
    * slack; Pettitt is the RETROSPECTIVE homogeneity question — "did
    * the level shift, and WHERE?" — rank-based (robust to outliers and
    * distribution-free, the X101/X121 stance), the standard opener of
    * a monitoring/hydrology homogeneity audit and the WHERE companion
    * [[mannKendall]]'s monotone-trend alternative can't answer.
    *
    * The statistic is U_t = Σ_{i≤t} Σ_{j>t} sgn(y_i − y_j), K =
    * max_{t<n} |U_t| — quadratic as written, but the rank identity
    * Σ_{j≠i} sgn(y_i − y_j) = R2_i − (n+1) (R2 the DOUBLED midrank —
    * lt+le+1, exact under ties) plus antisymmetry (within-prefix terms
    * cancel) collapses it to a PREFIX SUM: U_t = Σ_{i≤t}(R2_i − (n+1)).
    * The whole test is therefore ONE value-rank window + ONE
    * time-ordered cumulative window — never a pair join (exactly the
    * quadratic frame this identity removes; this operator has no maxN).
    *
    * Exactness: R2 and U_t are exact integers (DECIMAL(38,0) cumsum);
    * the change point is the EARLIEST time achieving |U| = K (stated
    * tie-break, via one min-struct — no window); the significance
    * presentation is Pettitt's approximation p ≈ 2·exp(−6K²/(n³+n²))
    * as ONE stated IEEE chain, capped at 1 (the approximation is only
    * meaningful small; K = 0 prints p = 1, "no shift").
    *
    * Rules, each STATED: duplicate (group, x) REFUSES (one value per
    * time point — the [[mannKendall]] stance); NULL x/y drops; n < 2
    * → NULL statistics ("not testable"); n > 1e9 REFUSES (|U| ≤ n²
    * must fit the Long output). Output: `(groups…, n, k_stat,
    * change_x, p_micro)` — `change_x` is the last time index of the
    * pre-shift segment. */
  def pettitt(df: DataFrame, groups: Seq[String], x: Column,
      y: Column): DataFrame = {
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
    val base = df.select(groups.map(col) :+ x.cast("long").as("__x") :+
        y.cast("long").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val census = Refuse.rows(base.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n")),
      (col("n") > 1000000000L) -> lit(
        "pettitt: a group exceeds 1e9 points — |U| <= n² must fit the " +
          "Long statistic; aggregate to coarser periods first"))
    val wv = w.partitionBy(groups.map(col): _*).orderBy(col("__y"))
    val wn = w.partitionBy(groups.map(col): _*)
    val wt = w.partitionBy(groups.map(col): _*).orderBy(col("__x"))
    // a duplicate x sorts next to its twin in the time window
    val u = Refuse.rows(base
      .withColumn("__lt", count(lit(1))
        .over(wv.rangeBetween(w.unboundedPreceding, -1)))
      .withColumn("__le", count(lit(1))
        .over(wv.rangeBetween(w.unboundedPreceding, 0)))
      .withColumn("__nn", count(lit(1)).over(wn))
      .withColumn("__term",
        (col("__lt") + col("__le") + 1 - col("__nn") - 1).cast(d))
      .withColumn("__u", sum(col("__term"))
        .over(wt.rowsBetween(w.unboundedPreceding, w.currentRow)))
      .withColumn("__rn", row_number().over(wt))
      .withColumn("__px", lag(col("__x"), 1).over(wt)),
      (col("__x") === col("__px")) -> lit(
        "pettitt: duplicate (group, x) observation — one value per " +
          "time point; aggregate upstream"))
      .filter(col("__rn") < col("__nn"))
    val best = u.groupBy(groups.map(col): _*)
      .agg(min(struct((-abs(col("__u"))).as("__negk"),
        col("__x").as("__cx"))).as("__b"))
      .select(groups.map(col) :+
        (-col("__b.__negk")).cast("long").as("k_stat") :+
        col("__b.__cx").as("change_x"): _*)
    val joined = {
      val rr = best.select(groups.zipWithIndex.map { case (g, i) =>
        col(g).as(s"__j$i") } :+ col("k_stat") :+ col("change_x"): _*)
      val cond = groups.zipWithIndex
        .map { case (g, i) => census(g) <=> rr(s"__j$i") }.reduce(_ && _)
      census.join(rr, cond, "left")
        .drop(groups.indices.map(i => s"__j$i"): _*)
    }
    joined
      .withColumn("p_micro", when(col("k_stat").isNotNull, least(
        lit(1000000L),
        round(lit(2e6) * exp(lit(-6.0) *
          col("k_stat").cast("double") * col("k_stat").cast("double") /
          (col("n").cast("double") * col("n") * col("n") +
            col("n").cast("double") * col("n")))).cast("long"))))
      .select(groups.map(col) :+ col("n") :+ col("k_stat") :+
        col("change_x") :+ col("p_micro"): _*)
      .localCheckpoint(true)
  }
}
