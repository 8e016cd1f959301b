package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.core.Refuse

/** Rank-based evaluation statistics (X113–X115): the measurement layer a
  * scoring pipeline runs AFTER X66 trains a classifier, X51/X77
  * calibrate it, and X100 watches its drift — how well does a SCORE
  * order the truth (AUC), how concentrated is a quantity (Gini), and do
  * two orderings agree (Spearman)? All three are rank statistics, so
  * exactness is free once ranks are exact: ties take AVERAGE ranks,
  * carried DOUBLED so they stay integers (2·avgrank = 2·cntBefore +
  * cntEqual + 1 — the standard midrank, no halves anywhere), and every
  * sum rides DECIMAL(38,0). Where a final quotient involves a square
  * root (Spearman), the presentation follows the q234 Welch discipline:
  * exact integer operands, then an IEEE-correctly-rounded double chain
  * both engines state in the same order.
  *
  * Scale shape: each statistic is one or two keyed WINDOWS (per-group
  * sorts — the X51 bound: a group's rows must fit a partition's sort
  * budget) plus one group-keyed aggregation with map-side combine; no
  * self-joins, no driver state. */
object RankStats {

  /** X113 — exact ROC AUC per group via the Mann-Whitney U identity
    * (Hanley & McNeil 1982): AUC = P(score_pos > score_neg) +
    * ½·P(tie) = (Σ_pos midrank − n_pos(n_pos+1)/2) / (n_pos·n_neg).
    * With DOUBLED midranks everything is integer:
    * `auc_micro = (Σ_pos 2·midrank − n_pos·(n_pos+1))·1e6 DIV
    * (2·n_pos·n_neg)` — bit-identical in any engine, no trapezoids, no
    * floats, ties handled exactly (the ½ credit the identity gives
    * them). One-class groups emit NULL auc ("not measurable", never
    * 0.5 — an unmeasurable ranking and a coin-flip ranking are
    * different findings). NULL scores/labels drop.
    * Output: `(groups…, n_pos, n_neg, auc_micro)`. */
  def aucReport(df: DataFrame, groups: Seq[String], score: Column,
      label: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val base = df.select(groups.map(col) :+ score.cast("long").as("__s") :+
        label.cast("boolean").as("__l"): _*)
      .filter(col("__s").isNotNull && col("__l").isNotNull)
    // probed N budget (the X100/X110 sibling discipline): Σ_pos 2·midrank
    // ≤ 2N² per group, and the ·1e6 presentation keeps every DECIMAL(38)
    // intermediate exact only while 2N²·1e6 < 10³⁸ — N ≤ 1e15 with
    // headroom; refuse loudly instead of trusting ANSI to catch it
    val nProbe = base.agg(count(lit(1))).collect()(0).getLong(0)
    require(nProbe <= 1000000000000000L,
      s"aucReport: N=$nProbe exceeds the DECIMAL(38) midrank budget " +
        "(1e15) — pre-filter or partition the scoring run")
    // per (group, score): row and positive counts — ties collapse here
    val perScore = base.groupBy(groups.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*).orderBy(col("__s"))
    val ranked = perScore
      .withColumn("__before", coalesce(sum(col("__cnt"))
        .over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      // doubled midrank of every row tied at this score
      .withColumn("__dr", lit(2) * col("__before") + col("__cnt") + 1)
    ranked.groupBy(groups.map(col): _*)
      .agg(sum(col("__pos")).as("n_pos"),
        sum(col("__cnt") - col("__pos")).as("n_neg"),
        sum(col("__pos").cast(d) * col("__dr")).as("__posDr"))
      .withColumn("auc_micro", expr(
        "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
          "(__posDr - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) " +
          "* 1000000 DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) " +
          "END AS BIGINT)"))
      .select(groups.map(col) :+ col("n_pos") :+ col("n_neg") :+
        col("auc_micro"): _*)
  }

  /** X114 — exact Gini concentration index per group (the Lorenz-curve
    * summary; Gini 1912): how unequally a non-negative quantity is
    * spread over its holders — spend concentration, token-budget
    * concentration, the "does one source dominate" audit. The discrete
    * identity over ascending-sorted values x_(1..n):
    * `gini_micro = (2·Σ i·x_(i) − (n+1)·Σx)·1e6 DIV (n·Σx)` — exact
    * integers throughout (ties permute only EQUAL values, so the rank
    * sum is tie-invariant and no midrank machinery is needed).
    * Negative values are REFUSED (the Lorenz construction assumes a
    * non-negative quantity); an all-zero group emits NULL (concentration
    * of nothing is undefined). Output: `(groups…, n, total, gini_micro)`. */
  def giniIndex(df: DataFrame, groups: Seq[String],
      value: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val base = Refuse.rows(df.select(groups.map(col) :+ value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull),
      (col("__v") < 0) -> lit(
        "giniIndex: negative value — the Lorenz construction needs a " +
          "non-negative quantity; shift or filter upstream"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*).orderBy(col("__v"))
    base.withColumn("__i", row_number().over(w))
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(d)).as("__t"),
        sum((col("__i").cast(d) * col("__v"))).as("__s1"))
      .withColumn("gini_micro", expr(
        "CAST(CASE WHEN __t > 0 THEN " +
          "(2 * __s1 - (n + 1) * __t) * 1000000 DIV (n * __t) " +
          "END AS BIGINT)"))
      .select(groups.map(col) :+ col("n") :+
        expr("CAST(__t AS BIGINT)").as("total") :+ col("gini_micro"): _*)
  }

  /** X118 — exact two-sample Kolmogorov-Smirnov statistic per group:
    * "did this DISTRIBUTION change?" — the whole-shape companion to
    * X22's PSI (binned, needs bin choices) and X113/X115's rank
    * statistics (which summarize ordering, not shape): D = max over
    * values of |ECDF_a − ECDF_b|, the classical two-sample KS
    * (Kolmogorov 1933; Smirnov 1939) behind train-vs-serve feature
    * drift gates and A/B invariance checks.
    *
    * Exactness: with c_a(v) = #{a-sample ≤ v} and n_a/n_b the sample
    * sizes, D = max |c_a·n_b − c_b·n_a| / (n_a·n_b) — the numerator is
    * exact integers (DECIMAL(38,0), factors cast BEFORE multiplying —
    * the file's discipline), evaluated only at observed values (where
    * the max provably lives), so `d_micro = maxdiff·1e6 DIV (n_a·n_b)`
    * replays bit-for-bit in any engine. The scaled statistic
    * `ks_micro = round(sqrt(n_a·n_b/(n_a+n_b)) · d_micro)` (the λ the
    * standard tables threshold) is the one IEEE chain, stated in the
    * same order everywhere — no p-value is emitted: the asymptotic
    * Kolmogorov series is an infinite exp sum with cross-engine ulp
    * risk, and a gate thresholds λ against a table anyway.
    *
    * Exactly TWO sample labels are required over the whole frame
    * (refused otherwise, the X116 logRank stance); `sample_a` is the
    * lexicographically smaller label, fixing the orientation. A group
    * missing either sample emits NULL d/ks ("not comparable", never 0).
    * NULL values/labels drop; the probed N budget (1e15) keeps the
    * cross-products inside DECIMAL(38) with the ·1e6 scale applied.
    *
    * Scale shape: ties collapse by ONE (group, value)-keyed aggregation
    * with map-side combine (distinct values cross the shuffle, not
    * rows), then one group-keyed window pair (running counts + totals —
    * same partition keys, one Exchange) and one final max aggregation.
    * Output: `(groups…, n_a, n_b, d_micro, ks_micro)`. */
  def ksTest(df: DataFrame, groups: Seq[String], value: Column,
      sample: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val base = df.select(groups.map(col) :+ value.cast("long").as("__v") :+
        sample.cast("string").as("__s"): _*)
      .filter(col("__v").isNotNull && col("__s").isNotNull)
    val labels = base.select("__s").distinct().limit(3)
      .collect().map(_.getString(0)).sorted.toSeq
    require(labels.length == 2,
      s"ksTest needs exactly two sample labels, got ${labels.length} " +
        s"(${labels.mkString(", ")})")
    val Seq(sa, sb) = labels
    val nProbe = base.agg(count(lit(1))).collect()(0).getLong(0)
    require(nProbe <= 1000000000000000L,
      s"ksTest: N=$nProbe exceeds the DECIMAL(38) ECDF budget (1e15)")
    val perV = base.groupBy(groups.map(col) :+ col("__v"): _*)
      .agg(sum(when(col("__s") === sa, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__s") === sb, 1L).otherwise(0L)).as("__cb"))
    val w = Window.partitionBy(groups.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(groups.map(col): _*)
    val stepped = perV
      .withColumn("__cumA", sum(col("__ca")).over(w))
      .withColumn("__cumB", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(wg))
      .withColumn("__nb", sum(col("__cb")).over(wg))
    stepped.groupBy(groups.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cumA").cast(d) * col("__nb") -
          col("__cumB").cast(d) * col("__na"))).as("__md"))
      .withColumn("d_micro", expr(
        "CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN __md * 1000000 DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) END AS BIGINT)"))
      .withColumn("ks_micro",
        when(col("d_micro").isNotNull, round(
          sqrt(col("n_a").cast("double") * col("n_b") /
            (col("n_a") + col("n_b"))) * col("d_micro").cast("double"))
          .cast("long")))
      .select(groups.map(col) :+ col("n_a") :+ col("n_b") :+
        col("d_micro") :+ col("ks_micro"): _*)
  }

  /** X115 — Spearman rank correlation per group: do two orderings agree
    * — score-vs-score agreement across model versions, metric-vs-time
    * monotonicity (the nonparametric companion to X100's slope, immune
    * to outliers and any monotone rescaling). ρ = Pearson over the
    * DOUBLED midranks of each axis (the tie-correct definition —
    * the popular 6Σd²/n(n²−1) shortcut is WRONG under ties): both rank
    * assignments are exact integers from one window each, the five
    * sums exact DECIMAL(38,0), and the presentation
    * `rho_micro = round(num / (√dx·√dy) · 1e6)` is the q234 double
    * chain (two sqrts then one multiply, stated in the same order by
    * every engine). Groups with n < 2 or zero variance on either axis
    * emit NULL. NULL x/y rows drop.
    * Output: `(groups…, n, rho_micro)`. */
  def spearmanCorr(df: DataFrame, groups: Seq[String], x: Column,
      y: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val base = df.select(groups.map(col) :+ x.cast("long").as("__x") :+
        y.cast("long").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def doubledRank(c: String, out: String)(in: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groups.map(col): _*).orderBy(col(c))
      // 2·midrank = 2·cntBefore + cntEqual + 1 = cntLT + cntLE + 1 —
      // two RANGE-frame counts over the SAME window spec, which Spark
      // fuses into one WindowExec: one Exchange+Sort per axis instead
      // of the r13 rank-window + tie-bounds-window pair (whose changed
      // partition keys forced a second Exchange per axis); and because
      // both axes partition by the same group keys, the y-axis window
      // reuses the x-axis partitioning with only a re-Sort
      in.withColumn("__lt", count(lit(1))
          .over(w.rangeBetween(Window.unboundedPreceding, -1)))
        .withColumn("__le", count(lit(1))
          .over(w.rangeBetween(Window.unboundedPreceding, 0)))
        .withColumn(out, col("__lt") + col("__le") + 1)
        .drop("__lt", "__le")
    }
    val ranked = doubledRank("__y", "__rb")(doubledRank("__x", "__ra")(base))
    ranked.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__ra").cast(d)).as("__sa"),
        sum(col("__rb").cast(d)).as("__sb"),
        sum((col("__ra").cast(d) * col("__rb"))).as("__sab"),
        sum((col("__ra").cast(d) * col("__ra"))).as("__saa"),
        sum((col("__rb").cast(d) * col("__rb"))).as("__sbb"))
      .withColumn("__num",
        (col("n") * col("__sab") - col("__sa") * col("__sb")).cast("double"))
      .withColumn("__dx",
        (col("n") * col("__saa") - col("__sa") * col("__sa")).cast("double"))
      .withColumn("__dy",
        (col("n") * col("__sbb") - col("__sb") * col("__sb")).cast("double"))
      .withColumn("rho_micro",
        when(col("n") >= 2 && col("__dx") > 0 && col("__dy") > 0,
          round(col("__num") / (sqrt(col("__dx")) * sqrt(col("__dy")))
            * 1e6).cast("long")))
      .select(groups.map(col) :+ col("n") :+ col("rho_micro"): _*)
  }

  /** X132 — Kruskal-Wallis K-sample rank test per family (Kruskal &
    * Wallis, JASA 1952): "do these K groups draw from the same
    * distribution?" — the PROPER K-sample statistic [[Survival.logRankK]]'s
    * doc defers to for survival, delivered here for plain values: the
    * rank-based one-way ANOVA behind "which segment behaves differently"
    * screens, pairing with X118 (two-sample shape), X125 (pairwise
    * survival), X131 (the FDR layer over many families).
    *
    * H = 12/(N(N+1))·Σ_i R_i²/n_i − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N); H ~ χ²_{k−1} under the null.
    *
    * Exactness (the file's discipline): midranks carried DOUBLED
    * (2r = 2·before + cntEqual + 1 — integers, no halves), per-group
    * rank sums exact DECIMAL(38,0); in doubled terms
    * Σ(2R_i)²/n_i = 4·ΣR_i²/n_i, accumulated as per-group FLOOR
    * divisions computed ENTIRELY in DECIMAL(38,0) — the quotient is
    * taken as `(S2² − S2² % n_i) / n_i`, exact because the remainder
    * is subtracted first (the division has no fraction, so no rounding
    * mode ever fires), and NEVER passes through BIGINT: Spark's `DIV`
    * always returns BIGINT and silently WRAPS on overflow, which the
    * quotient (≤ 4·n_i·N² ≈ 4N³ = 4e24 at the budget — 25 digits,
    * inside DECIMAL(38,6)'s 32 integer digits) would hit once a family
    * reaches ~1.3e6 rows (each floor < 1, total floor error < k —
    * invisible at the micro presentation and REPLAYABLE, unlike a
    * float Σ whose addition order no engine pins); the tie term
    * Σ(t³−t) is exact integers from the per-value collapse. Only the
    * FINAL chain touches doubles, stated once for both engines:
    * `h = 3·A/(N·(N+1)) − 3·(N+1)`, `c = 1 − T/(N³−N)`,
    * `h_micro = round(h/c·1e6)`. A family with < 2 groups emits NULL
    * ("not testable"); all-tied values (C = 0) emit NULL (zero rank
    * variance); NULL values/groups drop. The probed N budget (1e8)
    * keeps S2² inside DECIMAL(38).
    *
    * Scale shape: one (family, value, group)-keyed collapse with
    * map-side combine (distinct cells cross the shuffle, not rows), one
    * family-keyed window pair sharing one Exchange (running counts via
    * RANGE frames), one values-sized tie aggregation, two family-keyed
    * aggregations. Output: `(families…, k_groups, n_total, h_micro)`. */
  /** X142 — Friedman test (Friedman, JASA 1937; tie-corrected per
    * Conover 1999): the REPEATED-MEASURES / blocked companion to
    * [[kruskalWallis]] — "do these k treatments differ" when every
    * block (user, site, day) is measured under EVERY treatment, so
    * between-block variation must cancel instead of drowning the
    * signal (the A/B/n-on-matched-cohorts readout; KW on the same data
    * would charge treatment differences against block noise). Ranks
    * are WITHIN each block; with R_j the rank sum of treatment j over
    * n complete blocks, the tie-corrected statistic is
    * χ² = (k−1)·(ΣR_j² − n²k(k+1)²/4) / (A − nk(k+1)²/4),
    * A = Σ r_ij² over all cells; χ² ~ χ²_{k−1} under the null.
    *
    * Exactness (the X132 discipline, minus even the floor divisions —
    * this statistic needs NONE): DOUBLED midranks within each block
    * (2r = 2·before + cntEqual + 1 — integers), so in doubled terms
    * the identity multiplies through by 4 and cancels:
    * χ² = (k−1)·(ΣRd_j² − n²k(k+1)²·4/4…) — concretely, with
    * Sd = ΣRd_j² and Ad = Σ dr² both exact DECIMAL(38,0),
    * `χ² = (k−1)·(Sd − n²·k·(k+1)²) / (Ad − n·k·(k+1)²)` — every
    * operand an exact integer, ONE stated double chain at the end,
    * `chi2_micro = round(χ²·1e6)`. A zero denominator (every block
    * internally all-tied) emits NULL ("not testable"); fewer than 2
    * treatments emits NULL.
    *
    * Block-completeness is STATED: a block missing any of its family's
    * treatments (or measuring one twice — REFUSED as ambiguous) drops
    * from the test (the standard complete-block rule); a family with
    * zero complete blocks emits no row. `maxTreatments` refuses
    * key-like treatment columns.
    *
    * Scale shape: one treatment-census probe, the duplicate-cell
    * refusal riding the block-size aggregation, one
    * (family, block)-keyed RANGE-window pair for midranks (blocks are
    * small — the sort is per block, never corpus-keyed), one
    * treatment-keyed and one family-keyed aggregation. Output:
    * `(families…, k_treatments, n_blocks, chi2_micro)`.
    * The standard post-hoc (pairwise [[wilcoxonSignedRank]] + the X131
    * BH screen) is composed end-to-end in [[friedmanPostHoc]]. */
  def friedman(df: DataFrame, families: Seq[String], block: Column,
      treatment: Column, value: Column,
      maxTreatments: Int = 100): DataFrame = {
    require(maxTreatments >= 2 && maxTreatments <= 1000,
      s"maxTreatments must be in [2, 1000], got $maxTreatments")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+
        coalesce(block.cast("string"), lit("(null)")).as("__b") :+
        coalesce(treatment.cast("string"), lit("(null)")).as("__t") :+
        value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
    // per-family treatment count k (the block-completeness yardstick)
    val ks = base.select(fam :+ col("__t"): _*).distinct()
      .groupBy(fam: _*).agg(count(lit(1)).as("__k"))
    val tooMany = ks.filter(col("__k") > maxTreatments).limit(1).collect()
    require(tooMany.isEmpty,
      s"a family holds more than $maxTreatments treatments — a key-like " +
        "treatment column is not a design; bucket upstream")
    // complete blocks only: exactly the family's k distinct treatments
    val blockSizes = blockCensus(base, fam, "friedman")
    val complete = base
      .join(blockSizes, families :+ "__b")
      .join(ks, families)
      .filter(col("__bc") === col("__k"))
    friedmanStat(complete, families)
  }

  /** Rows per (family, block), the block-completeness count, with the
    * duplicate-cell refusal riding the same aggregation: a block that
    * measures one treatment twice has more rows than distinct
    * treatments. The treatment census has already bounded a block's
    * distinct treatments by `maxTreatments`. */
  private def blockCensus(base: DataFrame, fam: Seq[Column],
      op: String): DataFrame =
    Refuse.rows(base.groupBy(fam :+ col("__b"): _*)
      .agg(count(lit(1)).as("__bc"), size(collect_set(col("__t"))).as("__bt")),
      (col("__bc") > col("__bt")) -> lit(s"$op: a block measures one " +
        "treatment twice — ambiguous cell; aggregate upstream"))
      .drop("__bt")

  /** The tie-corrected Friedman χ² chain over a PREPARED complete-block
    * frame `(families…, __b, __t, __v)` — the statistic half of
    * [[friedman]], split out so [[friedmanPostHoc]] can feed ONE
    * materialized complete-block frame to both the omnibus and the
    * pairwise stage instead of re-deriving it per consumer. */
  private def friedmanStat(complete: DataFrame,
      families: Seq[String]): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    // doubled midranks WITHIN each (family, block)
    val wb = Window.partitionBy(fam :+ col("__b"): _*).orderBy(col("__v"))
    val ranked = complete
      .withColumn("__before", coalesce(count(lit(1))
        .over(wb.rangeBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cv", count(lit(1)).over(wb.rangeBetween(0, 0)))
      .withColumn("__dr", lit(2) * col("__before") + col("__cv") + 1)
    val perT = ranked.groupBy(fam :+ col("__t"): _*)
      .agg(sum(col("__dr").cast(d)).as("__rd"))
    val perFam = perT.groupBy(fam: _*)
      .agg(count(lit(1)).as("k_treatments"),
        sum(col("__rd") * col("__rd")).as("__sd"))
    val cells = ranked.groupBy(fam: _*)
      .agg((countDistinct(col("__b"))).as("n_blocks"),
        sum(col("__dr").cast(d) * col("__dr")).as("__ad"))
    perFam.join(cells, families)
      .withColumn("chi2_micro", when(col("k_treatments") >= 2, expr(
        """CAST(CASE WHEN CAST(__ad AS DOUBLE)
          |  - CAST(n_blocks AS DOUBLE) * k_treatments
          |    * (k_treatments + 1) * (k_treatments + 1) <> 0.0 THEN
          |  round((k_treatments - 1) *
          |    (CAST(__sd AS DOUBLE) - CAST(n_blocks AS DOUBLE) * n_blocks
          |       * k_treatments * (k_treatments + 1) * (k_treatments + 1))
          |    / (CAST(__ad AS DOUBLE) - CAST(n_blocks AS DOUBLE)
          |       * k_treatments * (k_treatments + 1) * (k_treatments + 1))
          |    * 1000000) END AS BIGINT)""".stripMargin)))
      .select(fam :+ col("k_treatments") :+ col("n_blocks") :+
        col("chi2_micro"): _*)
  }

  /** X146 — paired Wilcoxon signed-rank test (Wilcoxon 1945; the tie /
    * zero handling per Conover 1999 §5.7): the PAIRED two-sample member
    * completing the rank kit — X113's Mann-Whitney face is
    * independent-sample, [[friedman]] is k-sample blocked; this is the
    * k = 2 matched case ("did the metric move per subject between the
    * two conditions?"), and it is [[friedman]]'s standard POST-HOC:
    * pairwise treatment comparisons over the same blocks, multiplicity
    * via the X131 BH screen (the Nemenyi alternative is a different
    * PRESENTATION of the same blocked midranks — critical-difference
    * constants instead of per-pair p-values — documented, not a second
    * operator).
    *
    * Procedure (each rule classical and STATED): d = a − b per pair;
    * zero differences DROP (counted, reported); |d| gets DOUBLED
    * midranks (2r = 2·before + cntEqual + 1 — integers, ties exact);
    * W2 = Σ doubled ranks over POSITIVE differences (= 2·W⁺, exact
    * DECIMAL). Normal approximation with tie correction, carried so
    * every operand stays an exact integer: E[W2] = n(n+1)/2 (exact —
    * the product is even), 12·Var(W2) = 2n(n+1)(2n+1) − Σ(t³−t) over
    * |d|-tie groups (exact DECIMAL; provably positive for n ≥ 1 —
    * 3n(n+1)² when everything ties — so ties can never zero this
    * variance, unlike the rank-sum statistic's), and the presentation
    * is ONE stated double chain:
    * `z_micro = round(1e6·(W2 − E)/sqrt(V12/12))`. n = 0 surviving
    * pairs (all zeros, or no pairs) emits NULL w2/z — "not testable",
    * never 0.
    *
    * Scale shape = [[kruskalWallis]]: pairs collapse to (family, |d|,
    * sign) cells before any window — rows never cross the shuffle raw;
    * one per-family RANGE-window pair on the |d| axis; two keyed
    * aggregations; the same 1e8 DECIMAL budget probe. NULL on either
    * side drops the pair (stated). Output: `(families…, n_pairs,
    * n_zeros, w2, z_micro)`. */
  def wilcoxonSignedRank(df: DataFrame, families: Seq[String], a: Column,
      b: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+
        (a.cast("long") - b.cast("long")).as("__d"): _*)
      .filter(col("__d").isNotNull)
    val nProbe = base.agg(count(lit(1))).collect()(0).getLong(0)
    require(nProbe <= 100000000L,
      s"wilcoxonSignedRank: N=$nProbe exceeds the DECIMAL(38) " +
        "rank-sum budget (1e8) — pre-aggregate or sample upstream")
    // per-family census BEFORE the zero drop, so an all-zero family
    // still reports (n_pairs = 0, its zero count, NULL statistic)
    val census = base.groupBy(fam: _*)
      .agg(sum(when(col("__d") === 0, 1L).otherwise(0L)).as("n_zeros"))
    val cells = base.filter(col("__d") =!= 0)
      .groupBy(fam :+ abs(col("__d")).as("__ad") :+
        (col("__d") > 0).as("__pos"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(fam: _*).orderBy(col("__ad"))
    val ranked = cells
      .withColumn("__before", coalesce(sum(col("__c"))
        .over(w.rangeBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cv", sum(col("__c")).over(w.rangeBetween(0, 0)))
      .withColumn("__dr", lit(2) * col("__before") + col("__cv") + 1)
    val perFam = ranked.groupBy(fam: _*)
      .agg(sum(col("__c")).as("n_pairs"),
        sum(when(col("__pos"), col("__c").cast(d) * col("__dr"))
          .otherwise(lit(0).cast(d))).as("__w2"))
    val ties = cells.groupBy(fam :+ col("__ad"): _*)
      .agg(sum(col("__c")).as("__t"))
      .groupBy(fam: _*)
      .agg(sum(col("__t").cast(d) * col("__t") * col("__t") -
        col("__t")).as("__T"))
    census.join(perFam.join(ties, families), families, "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("w2", when(col("n_pairs") >= 1,
        col("__w2").cast("long")))
      .withColumn("z_micro", when(col("n_pairs") >= 1, expr(
        """CAST(round(1000000 * (CAST(w2 AS DOUBLE)
          |    - CAST(n_pairs * (n_pairs + 1) DIV 2 AS DOUBLE))
          |  / sqrt(CAST(2 * CAST(n_pairs AS DECIMAL(38,0))
          |      * (n_pairs + 1) * (2 * n_pairs + 1) - __T AS DOUBLE)
          |    / 12.0)) AS BIGINT)""".stripMargin)))
      .select(fam :+ col("n_pairs") :+ col("n_zeros") :+ col("w2") :+
        col("z_micro"): _*)
  }

  /** X173 — the Friedman post-hoc, COMPOSED and published: [[friedman]]
    * (the omnibus "do these k treatments differ at all?") → pairwise
    * [[wilcoxonSignedRank]] over the SAME complete blocks (which pairs
    * differ?) → [[Ops.bhAdjust]] across the k(k−1)/2 pairs (which of
    * those survive multiplicity?) — the three-stage readout a
    * practitioner actually publishes (Demšar, JMLR 2006 §3.2.2: rank
    * omnibus, pairwise post-hoc, multiplicity control), which X146's
    * doc promised and no single call delivered until now.
    *
    * Stage contracts are the components' own, unchanged: the omnibus
    * runs [[friedman]] verbatim (complete blocks only, doubled
    * midranks, the stated χ² chain); each pair (a, b), a < b in string
    * order, takes per-block differences over the family's COMPLETE
    * blocks (the same blocks the omnibus ranked — a pair must not
    * resurrect blocks the omnibus dropped) and runs
    * [[wilcoxonSignedRank]] verbatim; the BH screen runs
    * [[Ops.bhAdjust]] verbatim per family across the pairs.
    *
    * The one NEW piece is the z → p bridge, stated exactly: the
    * two-sided normal p rides Pólya's closed-form approximation
    * (Pólya 1945) `p = 1 − sqrt(1 − exp(−2z²/π))` — ONE IEEE chain
    * both engines evaluate identically (exp/sqrt/π are IEEE-pinned;
    * no engine evaluates a real CDF, the X112 stance), monotone in
    * |z| EXACTLY (so the BH ordering is the true normal-p ordering;
    * only the α threshold feels the ≤ 3·10⁻³ approximation error,
    * stated), `p_micro = round(1e6·p)`.
    *
    * Rules, each STATED: a pair whose differences are all zero (or
    * with no surviving pairs) has NULL z → NULL p and DROPS from the
    * BH screen (unrankable — the [[Ops.bhAdjust]] stance); duplicate
    * cells / key-like treatments REFUSE via [[friedman]]'s own
    * probes; families with k < 2 emit no pair rows.
    *
    * Scale shape: the omnibus (one census probe + windows), ONE
    * family+block-keyed self-join of the complete-block frame
    * (fan-out ≤ k² per block, k ≤ maxTreatments — bounded, stated),
    * the X146 windows over (family, pair) keys, the X131 window pair.
    * Output: one row per pair — `(families…, treat_a, treat_b,
    * chi2_micro, n_pairs, n_zeros, w2, z_micro, p_micro, bh_rank,
    * m_tests, rejected)`. */
  def friedmanPostHoc(df: DataFrame, families: Seq[String],
      block: Column, treatment: Column, value: Column,
      alphaMicro: Long = 50000L, maxTreatments: Int = 100): DataFrame = {
    require(maxTreatments >= 2 && maxTreatments <= 1000,
      s"maxTreatments must be in [2, 1000], got $maxTreatments")
    // The complete-block frame is built ONCE and materialized ONCE
    // (localCheckpoint): the omnibus chain, the pair self-join, the
    // X146 budget probe and the final plan all read the same blocks —
    // the former shape (friedman(df) + a verbatim rebuild here) ran
    // the scan→censuses→joins subtree once per probe and once per
    // consumer, and the composition's wall time was pure repeated
    // orchestration, not statistics. The refusals are friedman's own,
    // run here verbatim against the shared base.
    val fam = families.map(col)
    val base = df.select(fam :+
        coalesce(block.cast("string"), lit("(null)")).as("__b") :+
        coalesce(treatment.cast("string"), lit("(null)")).as("__t") :+
        value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val ks = base.select(fam :+ col("__t"): _*).distinct()
      .groupBy(fam: _*).agg(count(lit(1)).as("__k"))
    val tooMany = ks.filter(col("__k") > maxTreatments).limit(1).collect()
    require(tooMany.isEmpty,
      s"a family holds more than $maxTreatments treatments — a key-like " +
        "treatment column is not a design; bucket upstream")
    val blockSizes = blockCensus(base, fam, "friedman")
    // §5 scale note: localCheckpoint blocks are executor-pinned and not
    // recomputable — fine inside one bounded query (this frame is
    // complete-block-sized and feeds four consumers); a deployment that
    // cannot retry the query should persist or use a reliable checkpoint
    // dir instead (the [[graft.core.Checkpointing]] trade).
    val complete = base
      .join(blockSizes, families :+ "__b")
      .join(ks, families)
      .filter(col("__bc") === col("__k"))
      .localCheckpoint(true)
    // stage 1 — the omnibus over the materialized complete blocks
    val omni = friedmanStat(complete, families)
      .select(families.map(col) :+ col("chi2_micro"): _*)
    // stage 2 — pairwise Wilcoxon: one block-keyed self-join builds
    // every (a, b) pair's per-block difference, then X146 verbatim
    // with the pair carried in the family key
    val left = complete.select(fam :+ col("__b") :+
      col("__t").as("treat_a") :+ col("__v").as("__va"): _*)
    val right = complete.select(fam :+ col("__b") :+
      col("__t").as("treat_b") :+ col("__v").as("__vb"): _*)
    val pairs = left.join(right, families :+ "__b")
      .filter(col("treat_a") < col("treat_b"))
    val wil = wilcoxonSignedRank(pairs,
      families ++ Seq("treat_a", "treat_b"), col("__va"), col("__vb"))
    // the z → p bridge (Pólya 1945), one stated chain
    val withP = wil.withColumn("p_micro", expr(
      """CAST(round(1000000 * (1.0 - sqrt(1.0
        |  - exp(-2.0 * (CAST(z_micro AS DOUBLE) / 1e6)
        |        * (CAST(z_micro AS DOUBLE) / 1e6) / pi()))))
        | AS BIGINT)""".stripMargin))
    // stage 3 — BH across the family's pairs (NULL p drops, stated)
    Ops.bhAdjust(withP, families, col("p_micro"), alphaMicro)
      .join(omni, families)
      .select(fam ++ Seq(col("treat_a"), col("treat_b"),
        col("chi2_micro"), col("n_pairs"), col("n_zeros"), col("w2"),
        col("z_micro"), col("p_micro"), col("bh_rank"), col("m_tests"),
        col("rejected")): _*)
  }

  /** X148 — one batch's (families, value, group) → count CELLS: the
    * sufficient statistic [[kruskalWallis]] reduces the corpus to, made
    * a public face so the collapse can ride the X75 ledger incrementally
    * (cells are a count monoid — merging per-batch cells by sum IS the
    * one-shot collapse). Schema: `(families…, __v, __g, cnt)`. */
  def kruskalWallisCells(df: DataFrame, families: Seq[String],
      value: Column, group: Column): DataFrame = {
    val fam = families.map(col)
    df.select(fam :+ value.cast("long").as("__v") :+
        coalesce(group.cast("string"), lit("(null)")).as("__g"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(fam :+ col("__v") :+ col("__g"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** X148 — the test statistic from (possibly fragmented) cell rows:
    * merges segments by sum first (so a cell split across batches or a
    * compaction fold cannot move the answer), then runs [[kruskalWallis]]'s
    * windows and aggregations. `kruskalWallisFromCells(kruskalWallisCells(df))
    * ≡ kruskalWallis(df)` by construction — the degeneracy pin that makes
    * the incremental face trustworthy. */
  def kruskalWallisFromCells(cellRows: DataFrame,
      families: Seq[String]): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    Seq("__v", "__g", "cnt").foreach(c =>
      require(cellRows.columns.contains(c),
        s"cell frame needs (families…, __v, __g, cnt), got " +
          s"${cellRows.columns.mkString(", ")}"))
    // segment merge: one row per cell whatever the ledger fragmentation
    // (cell frames are cells-sized — the probe's extra scan is cheap,
    // so no persist barrier is taken here)
    val cells = cellRows.groupBy(fam :+ col("__v") :+ col("__g"): _*)
      .agg(sum(col("cnt")).as("__cg"))
    val nProbe = cells.agg(coalesce(sum(col("__cg")), lit(0L)))
      .collect()(0).getLong(0)
    require(nProbe <= 100000000L,
      s"kruskalWallis: N=$nProbe exceeds the DECIMAL(38) rank-sum-square " +
        "budget (1e8) — pre-aggregate or sample upstream")
    kwStatistic(cells, families)
  }

  /** The ledger carrier for the incremental face (X148 ⊗ X75/X59): commit
    * one batch's cells exactly once (replay no-ops without building the
    * batch plan — by-name `batch`, the q204 discipline). */
  def kwCommitBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, segId: Long, batch: => DataFrame,
      families: Seq[String], value: Column, group: Column): Boolean =
    graft.core.Table(spark, dir, name).ledgerAppendIfAbsent(segId,
      kruskalWallisCells(batch, families, value, group))

  /** Fold fragmented cell segments back to one row per cell when live
    * deltas exceed `maxDeltas` — compaction IS re-aggregation (the X75
    * merge-preservation contract: summing sums is the same monoid). */
  def kwCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, families: Seq[String], maxDeltas: Int): Boolean =
    graft.core.Table(spark, dir, name).ledgerCompact(maxDeltas,
      parts => parts
        .groupBy((families :+ "__v" :+ "__g").map(col): _*)
        .agg(sum(col("cnt")).cast("long").as("cnt")))

  /** Re-test from the committed cell store: O(cells × live segments)
    * rows scanned, the corpus never re-read — the monitoring-dashboard
    * read the one-shot test cannot give. */
  def kwReadTest(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, families: Seq[String]): DataFrame =
    kruskalWallisFromCells(
      graft.core.Table(spark, dir, name).readLedger, families)

  /** X148 — [[friedman]]'s incremental cells: one batch's
    * (families, block, treatment) → SUMMED value. The cell contract is
    * STATED: a cell is the sum of its contributing measurements — the
    * pre-aggregation the one-shot test demands of its caller (q304's
    * fixture sums cents the same way), done incrementally; duplicates
    * within or across batches MERGE by sum instead of tripping the
    * one-shot duplicate refusal (that refusal guards ambiguous raw
    * feeds; a sum ledger is unambiguous by construction).
    * Schema: `(families…, __b, __t, val_sum)`. */
  def friedmanCells(df: DataFrame, families: Seq[String], block: Column,
      treatment: Column, value: Column): DataFrame = {
    val fam = families.map(col)
    df.select(fam :+
        coalesce(block.cast("string"), lit("(null)")).as("__b") :+
        coalesce(treatment.cast("string"), lit("(null)")).as("__t") :+
        value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(fam :+ col("__b") :+ col("__t"): _*)
      .agg(sum(col("__v")).as("val_sum"))
  }

  /** X148 — [[friedman]] from (possibly fragmented) cell rows: merge
    * segments by sum, then run the one-shot test over the merged cells
    * (post-merge each cell is unique, so the duplicate probe passes by
    * construction). `friedmanFromCells(friedmanCells(df)) ≡ friedman`
    * over pre-summed feeds — the degeneracy pin. */
  def friedmanFromCells(cellRows: DataFrame, families: Seq[String],
      maxTreatments: Int = 100): DataFrame = {
    Seq("__b", "__t", "val_sum").foreach(c =>
      require(cellRows.columns.contains(c),
        s"cell frame needs (families…, __b, __t, val_sum), got " +
          s"${cellRows.columns.mkString(", ")}"))
    val fam = families.map(col)
    val merged = cellRows.groupBy(fam :+ col("__b") :+ col("__t"): _*)
      .agg(sum(col("val_sum")).cast("long").as("val_sum"))
    friedman(merged, families, col("__b"), col("__t"), col("val_sum"),
      maxTreatments)
  }

  /** X148 ⊗ X75/X59 ledger carriers for the blocked test — commit a
    * batch's cells exactly once / fold fragments / re-test without
    * re-scanning history (the monitoring-dashboard cadence). */
  def friedmanCommitBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, segId: Long, batch: => DataFrame,
      families: Seq[String], block: Column, treatment: Column,
      value: Column): Boolean =
    graft.core.Table(spark, dir, name).ledgerAppendIfAbsent(segId,
      friedmanCells(batch, families, block, treatment, value))

  def friedmanCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, families: Seq[String],
      maxDeltas: Int): Boolean =
    graft.core.Table(spark, dir, name).ledgerCompact(maxDeltas,
      parts => parts
        .groupBy((families :+ "__b" :+ "__t").map(col): _*)
        .agg(sum(col("val_sum")).cast("long").as("val_sum")))

  def friedmanReadTest(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, families: Seq[String],
      maxTreatments: Int = 100): DataFrame =
    friedmanFromCells(
      graft.core.Table(spark, dir, name).readLedger, families,
      maxTreatments)

  def kruskalWallis(df: DataFrame, families: Seq[String], value: Column,
      group: Column): DataFrame = {
    val fam = families.map(col)
    val base = df.select(fam :+ value.cast("long").as("__v") :+
        coalesce(group.cast("string"), lit("(null)")).as("__g"): _*)
      .filter(col("__v").isNotNull)
    val nProbe = base.agg(count(lit(1))).collect()(0).getLong(0)
    require(nProbe <= 100000000L,
      s"kruskalWallis: N=$nProbe exceeds the DECIMAL(38) rank-sum-square " +
        "budget (1e8) — pre-aggregate or sample upstream")
    // per (family, value, group) collapse: rows never cross the shuffle
    val cells = base.groupBy(fam :+ col("__v") :+ col("__g"): _*)
      .agg(count(lit(1)).as("__cg"))
    kwStatistic(cells, families)
  }

  /** The shared post-collapse statistic: windows + aggregations over
    * merged `(families…, __v, __g, __cg)` cells — the ONE definition both
    * the one-shot and incremental faces run, so they cannot drift. */
  private def kwStatistic(cells: DataFrame,
      families: Seq[String]): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val w = Window.partitionBy(fam: _*).orderBy(col("__v"))
    // RANGE frames: __before counts family rows at strictly smaller
    // values, __cv the rows tied at this value — one Exchange for both
    val ranked = cells
      .withColumn("__before", coalesce(sum(col("__cg"))
        .over(w.rangeBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cv", sum(col("__cg")).over(w.rangeBetween(0, 0)))
      .withColumn("__dr", lit(2) * col("__before") + col("__cv") + 1)
    // doubled rank sums per (family, group), floored square-over-size.
    // Exact-decimal floor division: subtract the remainder, THEN divide
    // (quotient has no fraction → BigDecimal divide is exact), and stay
    // in DECIMAL(38,0) — `DIV` would return BIGINT and wrap past ~1.3e6
    // rows/family.
    val perGroup = ranked.groupBy(fam :+ col("__g"): _*)
      .agg(sum(col("__cg")).as("__ng"),
        sum(col("__cg").cast(d) * col("__dr")).as("__s2"))
      .withColumn("__a", expr(
        "CAST((__s2 * __s2 - (__s2 * __s2) % __ng) / __ng" +
          " AS DECIMAL(38,0))"))
    val perFam = perGroup.groupBy(fam: _*)
      .agg(count(lit(1)).as("k_groups"),
        sum(col("__ng")).as("n_total"),
        sum(col("__a")).as("__A"))
    // tie term from the per-value collapse (each value counted ONCE)
    val ties = cells.groupBy(fam :+ col("__v"): _*)
      .agg(sum(col("__cg")).as("__t"))
      .groupBy(fam: _*)
      .agg(sum(col("__t").cast(d) * col("__t") * col("__t") -
        col("__t")).as("__T"))
    perFam.join(ties, families)
      .withColumn("h_micro", when(col("k_groups") >= 2, expr(
        """CAST(CASE WHEN CAST(__T AS DOUBLE) <
          |  CAST(CAST(n_total AS DECIMAL(38,0)) * n_total * n_total
          |       - n_total AS DOUBLE) THEN
          |  round((3.0 * CAST(__A AS DOUBLE)
          |           / (CAST(n_total AS DOUBLE) * (n_total + 1))
          |         - 3.0 * (n_total + 1))
          |        / (1.0 - CAST(__T AS DOUBLE) /
          |           CAST(CAST(n_total AS DECIMAL(38,0)) * n_total
          |                * n_total - n_total AS DOUBLE))
          |        * 1000000) END AS BIGINT)""".stripMargin)))
      .select(fam :+ col("k_groups") :+ col("n_total") :+
        col("h_micro"): _*)
  }

  /** X149 — Cochran's Q test (Cochran, Biometrika 1950): the BINARY
    * member of the blocked kit — [[friedman]] asks "do k treatments
    * differ?" over ordinal measurements on the same blocks; Cochran's
    * Q is the SAME question when the outcome is 0/1 (converted/not,
    * passed/not, flagged/not — the matched-cohort A/B/n readout where
    * only success is recorded). With C_j the per-treatment success
    * totals, R_i the per-block success totals, N = ΣC_j = ΣR_i, the
    * classical Q = k(k−1)·Σ_j(C_j − N/k)² / Σ_i R_i(k−R_i) multiplies
    * through to the all-integer form
    * `Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)` ~ χ²_{k−1} — every
    * operand an exact DECIMAL(38,0), ONE stated double chain at the
    * end, `q_micro = round(Q·1e6)`.
    *
    * Rules, each STATED: values must be exactly 0 or 1 (anything else
    * REFUSES — a silently-truncated count is not a binary design);
    * NULL values drop; a block measuring one treatment twice REFUSES
    * (ambiguous cell); a block missing any treatment drops (the
    * complete-block rule, [[friedman]]'s). All-tied blocks (all-0 or
    * all-1) need NO drop rule — an all-0 block touches neither C_j nor
    * N, and an all-1 block adds 1 to every C_j and k to N, leaving
    * every C_j − N/k term unchanged, while contributing R(k−R) = 0 to
    * the denominator: Q is INVARIANT to them by construction (they do
    * inflate n_blocks, which is reported as observed). Zero
    * denominator — every complete block internally all-tied — emits
    * NULL ("not testable", never 0); k < 2 emits NULL.
    *
    * Degeneracy pin: k = 2 collapses to McNemar's test WITHOUT
    * continuity correction — writing b (only treatment 1 succeeds) and
    * c (only treatment 2), the identity gives Q = (b−c)²/(b+c), the
    * McNemar statistic; the spec proves it on a hand case. The Nemenyi
    * / pairwise-McNemar post-hoc is a PRESENTATION of these same
    * totals under the X131 BH screen, not a second operator.
    *
    * Scale shape = [[friedman]] minus the windows (no ranks to take —
    * the outcome IS the statistic): one treatment-census probe, the
    * non-binary and duplicate-cell refusals in the plan, two keyed
    * aggregations (per-treatment, per-block), everything map-side
    * combinable. Output: `(families…,
    * k_treatments, n_blocks, n_success, q_micro)`. */
  def cochranQ(df: DataFrame, families: Seq[String], block: Column,
      treatment: Column, value: Column,
      maxTreatments: Int = 100): DataFrame = {
    require(maxTreatments >= 2 && maxTreatments <= 1000,
      s"maxTreatments must be in [2, 1000], got $maxTreatments")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    // the refusal reads the DOUBLE cast: a fractional 0.5 value must
    // REFUSE, not truncate to 0 and slip past (ADVICE r17)
    val base = Refuse.rows(df.select(fam :+
        coalesce(block.cast("string"), lit("(null)")).as("__b") :+
        coalesce(treatment.cast("string"), lit("(null)")).as("__t") :+
        value.cast("long").as("__v") :+
        value.cast("double").as("__vd"): _*)
      .filter(col("__v").isNotNull),
      (col("__vd") =!= 0d && col("__vd") =!= 1d) -> lit(
        "cochranQ: a value is neither 0 nor 1 — not a binary design; " +
          "threshold upstream"))
      // one pass builds the cached cell table: the treatment census and
      // both margin aggregations read the cache, and the tiny result is
      // eagerly checkpointed before the cache drops
      .persist()
    try {
    val ks = base.select(fam :+ col("__t"): _*).distinct()
      .groupBy(fam: _*).agg(count(lit(1)).as("__k"))
    val tooMany = ks.filter(col("__k") > maxTreatments).limit(1).collect()
    require(tooMany.isEmpty,
      s"a family holds more than $maxTreatments treatments — a key-like " +
        "treatment column is not a design; bucket upstream")
    val blockSizes = blockCensus(base, fam, "cochranQ")
    val complete = base
      .join(blockSizes, families :+ "__b")
      .join(ks, families)
      .filter(col("__bc") === col("__k"))
    val perT = complete.groupBy(fam :+ col("__t"): _*)
      .agg(sum(col("__v")).as("__cj"))
      .groupBy(fam: _*)
      .agg(count(lit(1)).as("k_treatments"),
        sum(col("__cj")).as("n_success"),
        sum(col("__cj").cast(d) * col("__cj")).as("__sc2"))
    val perB = complete.groupBy(fam :+ col("__b"): _*)
      .agg(sum(col("__v")).as("__ri"))
      .groupBy(fam: _*)
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__ri").cast(d) * col("__ri")).as("__sr2"))
    perT.join(perB, families)
      .withColumn("q_micro", when(col("k_treatments") >= 2, expr(
        """CAST(CASE WHEN k_treatments * CAST(n_success AS DOUBLE)
          |    - CAST(__sr2 AS DOUBLE) <> 0.0 THEN
          |  round((k_treatments - 1)
          |    * (k_treatments * CAST(__sc2 AS DOUBLE)
          |       - CAST(n_success AS DOUBLE) * n_success)
          |    / (k_treatments * CAST(n_success AS DOUBLE)
          |       - CAST(__sr2 AS DOUBLE))
          |    * 1000000) END AS BIGINT)""".stripMargin)))
      .select(fam :+ col("k_treatments") :+ col("n_blocks") :+
        col("n_success") :+ col("q_micro"): _*)
      .localCheckpoint(true)
    } finally base.unpersist()
  }

  /** X150 — Kendall's τ-b rank correlation (Kendall 1938; the tie-
    * corrected τ-b per Kendall 1945, the form every stats engine
    * reports): the OTHER rank-agreement coefficient beside
    * [[spearmanCorr]] — Spearman charges disagreement by squared rank
    * DISTANCE, τ by the COUNT of discordant pairs, which is the
    * published metric for ranker-vs-ranker agreement (LLM-judge vs
    * human preference orderings, feature-vs-target monotonicity
    * screens) and the basis of the Mann-Kendall trend family
    * (TrendTests.mannKendall is τ against TIME; this is the general
    * two-column face).
    *
    * Exactness: rows collapse to (x, y) → count CELLS first (the
    * sufficient statistic); concordant/discordant pair counts come
    * from a BOUNDED DRIVER FOLD over the probe-bounded cells (the
    * maxArms/maxSteps house pattern — see [[Experiment.abScorecard]]):
    * cells sort by (x, y) and a Fenwick tree over y-ranks counts, in
    * O(C log C) per family, C = Σ c₁c₂ over (x₁<x₂, y₁<y₂) and
    * D = Σ c₁c₂ over (x₁<x₂, y₁>y₂) — the same sums the r17 cells²
    * self-join produced, without the quadratic cell-pair fan-out
    * (q312 was the suite's most expensive query under the join; the
    * fold is equivalent by the inversion-count identity and every
    * intermediate is an exact Long under the 2e9-row refusal:
    * C ≤ n(n−1)/2 ≤ 2·10¹⁸ < 2⁶³). Tie terms ride the same fold:
    * with n₀ = n(n−1)/2, n₁ = Σ_x t(t−1)/2, n₂ = Σ_y t(t−1)/2 (all
    * exact integers, the doubled forms kept so /2 cancels in the √),
    * `τ_b = (C−D)/√((n₀−n₁)(n₀−n₂))` is ONE stated double chain
    * identical to r17's SQL chain — subtract exact integers, convert
    * to double, halve, multiply, √, divide, round HALF_UP (away from
    * zero, the Spark/DuckDB shared tie rule) —
    * `tau_micro = round(τ_b·1e6)`. Either margin fully tied
    * (n₀ = n₁ or n₀ = n₂) → NULL ("not measurable"); n < 2 → NULL;
    * NULL on either column drops the row (stated).
    *
    * Scale shape: ONE distributed keyed collapse (rows → cells), then
    * the driver fold — bounded by TWO explicit probes: ≤ `maxCells`
    * distinct (x,y) cells per family (default 20 000) AND ≤ 2·10⁶
    * cells across ALL families (the collect budget — a key-like
    * family column is a unit id, not a grouping). Heavier-than-that
    * inputs are the caller's cue to bucket values upstream (τ on
    * bucketed values is τ-b on the buckets — stated, not hidden).
    * No self-join, no windows; the 100 TB cost is the one collapse.
    * Output: `(families…, n, concordant, discordant, tau_micro)`. */
  def kendallTau(df: DataFrame, families: Seq[String], x: Column,
      y: Column, maxCells: Long = 20000L): DataFrame = {
    require(maxCells >= 1 && maxCells <= 200000L,
      s"maxCells must be in [1, 2e5], got $maxCells")
    val fam = families.map(col)
    val base = df.select(fam :+ x.cast("long").as("__x") :+
        y.cast("long").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // one pass builds the cached cell table; both probes and the
    // collect read the cache
    val cells = base.groupBy(fam :+ col("__x") :+ col("__y"): _*)
      .agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val big = cells.groupBy(fam: _*)
        .agg(count(lit(1)).as("__nc"), sum(col("__c")).as("__n"))
        .filter(col("__nc") > maxCells || col("__n") > 2000000000L)
        .limit(1).collect()
      require(big.isEmpty,
        s"kendallTau: a family exceeds $maxCells distinct (x, y) cells " +
          "or 2e9 rows — the bounded driver fold buffer (or the Long " +
          "pair count) would blow up; bucket values upstream (τ over " +
          "buckets is τ-b over the buckets)")
      val totCells = cells.count()
      require(totCells <= 2000000L,
        s"kendallTau: $totCells cells across all families exceed the " +
          "2e6 driver-fold collect budget — a key-like family column " +
          "is a unit id, not a grouping; bucket upstream")
      val k = families.length
      val collected = cells.collect()
      val outRows = collected.groupBy(r => (0 until k).map(r.get))
        .toSeq.map { case (famVals, group) =>
          val cs = group.map(r =>
              (r.getLong(k), r.getLong(k + 1), r.getLong(k + 2)))
            .sortBy(t => (t._1, t._2))
          val n = cs.iterator.map(_._3).sum
          // doubled tie terms: 2n₁ = Σ_x t(t−1), 2n₂ = Σ_y t(t−1) —
          // the √ product absorbs the common factor 2 exactly
          def t2(sel: ((Long, Long, Long)) => Long): Long =
            cs.groupBy(sel).valuesIterator
              .map { g => val t = g.iterator.map(_._3).sum; t * (t - 1) }
              .sum
          val tx2 = t2(_._1); val ty2 = t2(_._2)
          // Fenwick over y-ranks, cells swept in x order: for each cell
          // the tree holds exactly the counts of strictly-smaller-x
          // cells, so prefix(y−1) counts concordant partners and
          // (inserted − prefix(y)) discordant ones — the classical
          // inversion-count identity, O(C log C), exact Longs
          val ys = cs.map(_._2).distinct.sorted
          val rank = ys.zipWithIndex.toMap
          val fen = new Array[Long](ys.length + 1)
          def add(i0: Int, v: Long): Unit = {
            var i = i0 + 1
            while (i <= ys.length) { fen(i) += v; i += i & (-i) }
          }
          def pre(i0: Int): Long = {
            var i = i0 + 1; var s = 0L
            while (i > 0) { s += fen(i); i -= i & (-i) }
            s
          }
          var cc = 0L; var dd = 0L; var inserted = 0L
          var i = 0
          while (i < cs.length) {
            var j = i
            while (j < cs.length && cs(j)._1 == cs(i)._1) j += 1
            var q = i
            while (q < j) {
              val (_, yv, c) = cs(q)
              val r0 = rank(yv)
              cc += c * (if (r0 == 0) 0L else pre(r0 - 1))
              dd += c * (inserted - pre(r0))
              q += 1
            }
            q = i
            while (q < j) {
              val (_, yv, c) = cs(q); add(rank(yv), c); inserted += c
              q += 1
            }
            i = j
          }
          // the r17 SQL chain verbatim: exact-integer subtraction, to
          // double, halve, multiply, √, divide, round HALF_UP (the
          // Spark/DuckDB shared away-from-zero tie rule)
          val n0x2 = n * (n - 1)
          val tauMicro: java.lang.Long =
            if (n < 2 || n0x2 == tx2 || n0x2 == ty2) null
            else java.lang.Long.valueOf(new java.math.BigDecimal(
              1000000.0 * (cc.toDouble - dd.toDouble) /
                math.sqrt(((n0x2 - tx2).toDouble / 2.0) *
                  ((n0x2 - ty2).toDouble / 2.0)))
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
          Row.fromSeq(famVals ++ Seq(n, cc, dd, tauMicro))
        }
      val schema = StructType(
        cells.schema.fields.take(k).toSeq ++ Seq(
          StructField("n", LongType, nullable = true),
          StructField("concordant", LongType, nullable = true),
          StructField("discordant", LongType, nullable = true),
          StructField("tau_micro", LongType, nullable = true)))
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(outRows: _*), schema)
    } finally cells.unpersist()
  }

  /** X156 — χ² + G goodness-of-fit against a STATED reference mixture
    * (Pearson 1900; the G form per Sokal & Rohlf 1981): the mixture
    * audit [[independenceTest]] cannot run — that tests two observed
    * columns against each other; THIS tests one observed distribution
    * against a DECLARED target (did the X13-rebalanced / X24-quota'd
    * sample actually land on the target weights? does a numeric
    * column's first digit follow Benford? is a hash uniform?) — the
    * closing-the-loop check a sampling pipeline ships with.
    *
    * Exactness: with reference weights w (micro units, W = Σw) and
    * E_j = N·w_j/W, the identity `χ² = Σ(O−E)²/E = Σ O²/E − N` holds
    * with ΣE = N EXACTLY (weights sum to W by construction), so only
    * OBSERVED levels need a term — unobserved reference levels
    * contribute 0 to ΣO²/E and their E is absorbed by the identity.
    * Each term is a POSITIVE rational floored once:
    * `t = (O²·W·1e12) DIV (N·w)` (O ≤ N ≤ 3e6 and W ≤ 1e12 keep
    * O²·W·1e12 ≤ 9·10³⁶ inside DECIMAL(38,0) — REFUSED above),
    * summed exactly;
    * `chi2_micro = round((S − N·1e12)/1e6)` is ONE stated chain. The
    * G term takes the X153 per-cell integer chain —
    * `g_cell = round(1e6·2·O·ln((O·W)/(N·w)))` — and an exact sum.
    *
    * Rules, each STATED: an observed level ABSENT from the reference
    * REFUSES (an impossible event is a pipeline bug, not a statistic);
    * duplicate or non-positive reference weights REFUSE (ambiguous /
    * degenerate target); NULL levels are REAL levels — declare their
    * target like any other; dof = (reference levels − 1), the
    * classical count, reported; a single-level reference (dof 0)
    * emits NULL. The reference frame is expected to be SMALL (a
    * stated mixture) and is broadcast.
    *
    * Scale shape: one observed-level collapse, one broadcast join to
    * the reference, one family rollup — no windows, no self-joins.
    * Output: `(families…, n, k_observed, dof, chi2_micro, g_micro)`. */
  def goodnessOfFit(df: DataFrame, families: Seq[String], level: Column,
      ref: DataFrame): DataFrame = {
    require(ref.columns.contains("level") &&
        ref.columns.contains("weight_micro"),
      s"reference frame needs (level, weight_micro), got " +
        ref.columns.mkString(", "))
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val refC = ref.select(
        coalesce(col("level").cast("string"), lit("(null)")).as("__l"),
        col("weight_micro").cast("long").as("__w"))
      .persist()
    try {
      val refRows = refC.collect()
      require(refRows.nonEmpty, "goodnessOfFit: empty reference")
      require(refRows.forall(r => !r.isNullAt(1) && r.getLong(1) > 0),
        "goodnessOfFit: non-positive or NULL reference weight — a " +
          "degenerate target is a spec bug")
      require(refRows.map(_.getString(0)).distinct.length == refRows.length,
        "goodnessOfFit: duplicate reference level — ambiguous target")
      val kRef = refRows.length.toLong
      val bigW = refRows.map(r => BigInt(r.getLong(1))).sum
      require(bigW <= BigInt(1000000000000L),
        s"goodnessOfFit: reference weights sum to $bigW > 1e12 — use " +
          "micro weights")
      val w = bigW.toLong
      val base = df.select(fam :+
        coalesce(level.cast("string"), lit("(null)")).as("__l"): _*)
      // the raw frame is scanned ONCE: the census and the terms both
      // read the cached cells; both refusals fire in the checkpoint job
      val cells = base.groupBy(fam :+ col("__l"): _*)
        .agg(count(lit(1)).as("__o"))
        .persist()
      try {
      val joined = Refuse.rows(cells.join(broadcast(refC), Seq("__l"), "left"),
        col("__w").isNull -> concat(lit("goodnessOfFit: observed level '"),
          col("__l"), lit("' is absent from the reference — an impossible " +
            "event is a pipeline bug; fix the target or the data")))
      val tot = Refuse.rows(cells.groupBy(fam: _*).agg(sum(col("__o")).as("n"),
        count(lit(1)).as("k_observed")),
        (col("n") > 3000000L) -> lit(
          "goodnessOfFit: a family exceeds 3e6 rows — the O²·W·1e12 " +
            "DECIMAL budget; pre-aggregate or sample upstream"))
      val terms = joined
        .join(tot.select(fam :+ col("n").as("__n"): _*), families)
        .withColumn("__t", expr(
          s"""CAST((CAST(__o AS DECIMAL(38,0)) * __o * $w * 1000000000000
             |  - (CAST(__o AS DECIMAL(38,0)) * __o * $w * 1000000000000)
             |    % (CAST(__n AS DECIMAL(38,0)) * __w))
             | / (CAST(__n AS DECIMAL(38,0)) * __w) AS DECIMAL(38,0))"""
            .stripMargin))
        .withColumn("__g", expr(
          s"""CAST(round(1000000 * 2 * __o *
             |  ln((CAST(__o AS DOUBLE) * $w)
             |     / (CAST(__n AS DOUBLE) * __w))) AS BIGINT)"""
            .stripMargin))
      val perFam = terms.groupBy(fam: _*)
        .agg(sum(col("__t")).as("__S"), sum(col("__g").cast(d)).as("__G"))
      tot.join(perFam, families)
        .withColumn("dof", lit(kRef - 1))
        .withColumn("chi2_micro", when(col("dof") >= 1, expr(
          """CAST(round(CAST(__S - CAST(n AS DECIMAL(38,0))
            |  * 1000000000000 AS DOUBLE) / 1e6) AS BIGINT)"""
            .stripMargin)))
        .withColumn("g_micro",
          when(col("dof") >= 1, col("__G").cast("long")))
        .select(fam :+ col("n") :+ col("k_observed") :+ col("dof") :+
          col("chi2_micro") :+ col("g_micro"): _*)
        .localCheckpoint(true)
      } finally cells.unpersist()
    } finally refC.unpersist()
  }

  /** X155 — Cochran-Mantel-Haenszel test + MH common odds ratio
    * (Cochran 1954; Mantel & Haenszel, JNCI 1959): the CONFOUNDER-
    * ADJUSTED association test [[independenceTest]] cannot be — "is
    * exposure associated with outcome AFTER adjusting for the
    * stratifying variable?" (source↔label adjusted for language,
    * priority↔failure adjusted for year — Simpson's-paradox insurance,
    * the reason every epidemiology readout stratifies). Per stratum k
    * the 2×2 table (a,b;c,d) contributes a_k, its null expectation
    * E_k = r1·c1/n_k and variance V_k = r1·r2·c1·c2/(n_k²(n_k−1));
    * T = (Σa − ΣE)²/ΣV ~ χ²₁, plus the MH pooled odds ratio
    * OR = Σ(a·d/n) / Σ(b·c/n) — the weights that remain stable when
    * strata are thin (the estimator's published selling point).
    *
    * Exactness: every per-stratum term is a POSITIVE rational, so each
    * is FLOORED to a pico-scaled integer with one exact DECIMAL(38,0)
    * division — E = (r1·c1·1e12) DIV n, V = (r1·r2·c1·c2·1e12) DIV
    * (n²(n−1)), AD = (a·d·1e12) DIV n, BC = (b·c·1e12) DIV n — and the
    * SUMS ride exact integers (the X151 stance: no running doubles,
    * and no negative-floor ambiguity because subtraction happens ONCE
    * on exact sums: Σa·1e12 − ΣE_pico). Presentations are single
    * stated chains: `t_micro = round((N²/(ΣV·1e12))·1e6)` with
    * N = Σa·1e12 − ΣE_pico, and `or_mh_micro = round(1e6·ΣAD/ΣBC)`.
    *
    * Rules, each STATED: exposure and outcome must be exactly 0/1
    * (REFUSED otherwise, the [[cochranQ]] stance); NULL
    * exposure/outcome/stratum drops the row; a stratum with n_k < 2
    * has undefined variance and contributes NOTHING to the statistic
    * sums (the classical "uninformative stratum", skipped via the
    * n ≥ 2 guard on every term — it still counts in the k_strata and
    * n census, which reports what was OBSERVED); ΣV = 0 (every
    * stratum margin-degenerate) → NULL t; ΣBC = 0 → NULL odds ratio
    * ("not estimable", never ∞); N > 1e9 per family REFUSES (the
    * r1·r2·c1·c2·1e12 ≤ n⁴·1e12 DECIMAL budget, n ≤ 1e9 per stratum
    * implied).
    *
    * Scale shape: rows collapse to (stratum × 2 × 2) cell counts in
    * ONE keyed aggregation (map-side combinable), stratum tables are
    * one more, family sums a third — no joins beyond margins, no
    * windows, no driver state. Output: `(families…, k_strata, n,
    * sum_a, t_micro, or_mh_micro)`. */
  def cmhTest(df: DataFrame, families: Seq[String], stratum: Column,
      exposure: Column, outcome: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    // DOUBLE-cast check: fractional exposure/outcome REFUSES instead of
    // truncating past the check (ADVICE r17, the cochranQ fix)
    val base = Refuse.rows(df.select(fam :+
        coalesce(stratum.cast("string"), lit("(null)")).as("__s") :+
        exposure.cast("long").as("__e") :+
        outcome.cast("long").as("__o") :+
        exposure.cast("double").as("__ed") :+
        outcome.cast("double").as("__od"): _*)
      .filter(col("__e").isNotNull && col("__o").isNotNull),
      ((col("__ed") =!= 0d && col("__ed") =!= 1d) ||
        (col("__od") =!= 0d && col("__od") =!= 1d)) -> lit(
        "cmhTest: exposure/outcome is neither 0 nor 1 — not a 2×2 design; " +
          "threshold upstream"))
    val strata = base.groupBy(fam :+ col("__s"): _*)
      .agg(sum(when(col("__e") === 1 && col("__o") === 1, 1L)
            .otherwise(0L)).as("__a"),
        sum(when(col("__e") === 1 && col("__o") === 0, 1L)
          .otherwise(0L)).as("__b"),
        sum(when(col("__e") === 0 && col("__o") === 1, 1L)
          .otherwise(0L)).as("__c"),
        sum(when(col("__e") === 0 && col("__o") === 0, 1L)
          .otherwise(0L)).as("__d"))
      .withColumn("__n", col("__a") + col("__b") + col("__c") + col("__d"))
    val terms = strata.select(fam ++ Seq(col("__a"), col("__n"),
      expr("""CASE WHEN __n >= 2 THEN
        |  CAST(((__a + __b) * CAST(__a + __c AS DECIMAL(38,0))
        |        * 1000000000000
        |    - ((__a + __b) * CAST(__a + __c AS DECIMAL(38,0))
        |        * 1000000000000) % __n) / __n AS DECIMAL(38,0))
        |ELSE CAST(0 AS DECIMAL(38,0)) END""".stripMargin).as("__E"),
      expr("""CASE WHEN __n >= 2 THEN
        |  CAST(((__a + __b) * CAST(__c + __d AS DECIMAL(38,0))
        |        * (__a + __c) * (__b + __d) * 1000000000000
        |    - ((__a + __b) * CAST(__c + __d AS DECIMAL(38,0))
        |        * (__a + __c) * (__b + __d) * 1000000000000)
        |      % (CAST(__n AS DECIMAL(38,0)) * __n * (__n - 1)))
        |  / (CAST(__n AS DECIMAL(38,0)) * __n * (__n - 1))
        |  AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"""
        .stripMargin).as("__V"),
      expr("""CASE WHEN __n >= 2 THEN
        |  CAST((__a * CAST(__d AS DECIMAL(38,0)) * 1000000000000
        |    - (__a * CAST(__d AS DECIMAL(38,0)) * 1000000000000) % __n)
        |  / __n AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"""
        .stripMargin).as("__AD"),
      expr("""CASE WHEN __n >= 2 THEN
        |  CAST((__b * CAST(__c AS DECIMAL(38,0)) * 1000000000000
        |    - (__b * CAST(__c AS DECIMAL(38,0)) * 1000000000000) % __n)
        |  / __n AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"""
        .stripMargin).as("__BC"),
      when(col("__n") >= 2, col("__a")).otherwise(lit(0L)).as("__au")): _*)
    val perFam = terms.groupBy(fam: _*)
      .agg(count(lit(1)).as("k_strata"),
        sum(col("__n")).as("n"),
        sum(col("__au")).as("sum_a"),
        sum(col("__E")).as("__SE"),
        sum(col("__V")).as("__SV"),
        sum(col("__AD")).as("__SAD"),
        sum(col("__BC")).as("__SBC"))
    Refuse.rows(perFam, (col("n") > 1000000000L) -> lit(
        "cmhTest: a family exceeds 1e9 rows — the n⁴·1e12 per-stratum " +
          "DECIMAL budget; sample upstream"))
      .withColumn("t_micro", when(col("__SV") > 0, expr(
        """CAST(round((CAST(CAST(sum_a AS DECIMAL(38,0)) * 1000000000000
          |    - __SE AS DOUBLE)
          |  * CAST(CAST(sum_a AS DECIMAL(38,0)) * 1000000000000
          |    - __SE AS DOUBLE))
          |  / (CAST(__SV AS DOUBLE) * 1e12) * 1e6) AS BIGINT)"""
          .stripMargin)))
      .withColumn("or_mh_micro", when(col("__SBC") > 0, expr(
        """CAST(round(1000000 * CAST(__SAD AS DOUBLE)
          |  / CAST(__SBC AS DOUBLE)) AS BIGINT)""".stripMargin)))
      .select(fam :+ col("k_strata") :+ col("n") :+ col("sum_a") :+
        col("t_micro") :+ col("or_mh_micro"): _*)
      .localCheckpoint(true)
  }

  /** X154 — Jonckheere-Terpstra ordered-alternative test (Jonckheere,
    * Biometrika 1954; Terpstra 1952; tie-corrected variance per
    * Hollander & Wolfe 1999 eq. 6.19): [[kruskalWallis]] asks "do the k
    * groups differ AT ALL?" — this asks the sharper question a dose /
    * severity / time-bucket design actually poses: do values TREND in
    * the groups' stated order? (Monotone alternatives are where KW
    * wastes its power; JT is the standard ordered replacement.) The
    * statistic is the summed pairwise Mann-Whitney count over ordered
    * group pairs, carried DOUBLED so ties stay integers:
    * `J2 = Σ_{g₁<g₂} Σ c₁c₂·(2·[v₁<v₂] + [v₁=v₂])` (= 2J), computed
    * from the same (value, group) → count CELLS as the rest of the
    * kit.
    *
    * Null moments, every component exact DECIMAL(38,0):
    * E[J2] = (N² − Σnᵢ²)/2 (the pairwise-product sum N² − Σnᵢ² is
    * even, so the half is exact),
    * and 4·Var(J) from the three Hollander-Wolfe terms — SA/72 +
    * SB/(36·N(N−1)(N−2)) + SC/(8·N(N−1)) with SA = N(N−1)(2N+5) −
    * Σnᵢ(nᵢ−1)(2nᵢ+5) − Σtⱼ(tⱼ−1)(2tⱼ+5), SB = Σnᵢ(nᵢ−1)(nᵢ−2) ·
    * Σtⱼ(tⱼ−1)(tⱼ−2), SC = Σnᵢ(nᵢ−1)·Σtⱼ(tⱼ−1) (nᵢ group sizes, tⱼ
    * value-tie sizes) — the presentation is ONE stated double chain,
    * `z_micro = round(1e6·(J2 − E2)/√(4·Var))`.
    *
    * Rules, each STATED: the group column must be NUMERIC — its order
    * IS the alternative (passing an unordered label column is the
    * caller's modeling error, not detectable here); NULL group or
    * value drops the row; k < 2 groups or N < 3 → NULL (the SB
    * denominator needs N ≥ 3); non-positive variance (every cross-
    * group pair tied) → NULL ("not testable", never 0); the cells²
    * join is bounded by [[kendallTau]]'s probe (maxCells per family,
    * N ≤ 1e9 so J2 fits a BIGINT).
    *
    * Scale shape = [[kendallTau]]: one cells collapse, one ordered
    * cells self-join, two margin aggregations, everything map-side
    * combinable. Output: `(families…, n, k_groups, j2, z_micro)`. */
  def jonckheereTerpstra(df: DataFrame, families: Seq[String],
      group: Column, value: Column, maxCells: Long = 20000L): DataFrame = {
    require(maxCells >= 1 && maxCells <= 200000L,
      s"maxCells must be in [1, 2e5], got $maxCells")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+ group.cast("long").as("__g") :+
        value.cast("long").as("__v"): _*)
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val cells = base.groupBy(fam :+ col("__g") :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val big = cells.groupBy(fam: _*)
        .agg(count(lit(1)).as("__nc"), sum(col("__c")).as("__n"))
        .filter(col("__nc") > maxCells || col("__n") > 1000000000L)
        .limit(1).collect()
      require(big.isEmpty,
        s"jonckheereTerpstra: a family exceeds $maxCells distinct " +
          "(group, value) cells or 1e9 rows — bucket values upstream")
      val l = cells.select(fam :+ col("__g").as("__g1") :+
        col("__v").as("__v1") :+ col("__c").as("__c1"): _*)
      val r = cells.select(fam :+ col("__g").as("__g2") :+
        col("__v").as("__v2") :+ col("__c").as("__c2"): _*)
      val j2 = l.join(r, families)
        .filter(col("__g1") < col("__g2"))
        .groupBy(fam: _*)
        .agg(sum(col("__c1").cast(d) * col("__c2") *
          (when(col("__v1") < col("__v2"), 2)
            .when(col("__v1") === col("__v2"), 1)
            .otherwise(0))).as("__j2"))
      val groups = cells.groupBy(fam :+ col("__g"): _*)
        .agg(sum(col("__c")).as("__ng"))
        .groupBy(fam: _*)
        .agg(count(lit(1)).as("k_groups"),
          sum(col("__ng")).as("n"),
          sum(col("__ng").cast(d) * col("__ng")).as("__sn2"),
          sum(col("__ng").cast(d) * (col("__ng") - 1)).as("__sn11"),
          sum(col("__ng").cast(d) * (col("__ng") - 1) *
            (lit(2) * col("__ng") + 5)).as("__sn25"),
          sum(col("__ng").cast(d) * (col("__ng") - 1) *
            (col("__ng") - 2)).as("__sn12"))
      val ties = cells.groupBy(fam :+ col("__v"): _*)
        .agg(sum(col("__c")).as("__t"))
        .groupBy(fam: _*)
        .agg(sum(col("__t").cast(d) * (col("__t") - 1)).as("__st11"),
          sum(col("__t").cast(d) * (col("__t") - 1) *
            (lit(2) * col("__t") + 5)).as("__st25"),
          sum(col("__t").cast(d) * (col("__t") - 1) *
            (col("__t") - 2)).as("__st12"))
      val out = groups.join(ties, families)
        .join(j2, families, "left")
        .withColumn("j2",
          coalesce(col("__j2").cast("long"), lit(0L)))
        .withColumn("__var", expr(
          """CASE WHEN n >= 3 THEN
            |(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)
            |    - __sn25 - __st25 AS DOUBLE) / 72.0
            | + CAST(__sn12 * __st12 AS DOUBLE)
            |   / (36.0 * n * (n - 1) * (n - 2))
            | + CAST(__sn11 * __st11 AS DOUBLE)
            |   / (8.0 * n * (n - 1))) * 4.0
            |ELSE 0.0 END""".stripMargin))
        .withColumn("z_micro", when(
          col("k_groups") >= 2 && col("n") >= 3 && col("__var") > 0, expr(
            """CAST(round(1000000 * (CAST(j2 AS DOUBLE)
              |  - CAST((CAST(n AS DECIMAL(38,0)) * n - __sn2) / 2
              |         AS DOUBLE))
              |  / sqrt(__var)) AS BIGINT)""".stripMargin)))
        .select(fam :+ col("n") :+ col("k_groups") :+ col("j2") :+
          col("z_micro"): _*)
      out.localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X153 — χ² + G-test of independence over a contingency table
    * (Pearson 1900; the G-test per Sokal & Rohlf 1981 §17.4, the
    * likelihood-ratio form modern practice prefers at small expecteds),
    * with Cramér's V (1946) as the effect size: the dataset-bias audit
    * primitive — is `source` independent of `label`? does the quality
    * bucket depend on the language? — the question X22's drift
    * profiles pose but never test.
    *
    * Exactness: the textbook Σ(O−E)²/E needs the FULL r×c grid (zero
    * cells carry E); the algebraic identity
    * `χ² = N·(Σ_cells O²/(R·C) − 1)` needs ONLY OBSERVED cells (a zero
    * O contributes zero) — no grid materialization, and every operand
    * is an exact integer. Per-cell terms are FLOORED to pico-scaled
    * integers — `t = (O²·1e12) DIV (R·C)` (O ≤ N ≤ 1e9 keeps O²·1e12
    * inside DECIMAL(38,0)) — summed exactly, then
    * `chi2_micro = round(N·(S − 1e12)/1e6)` is ONE stated double
    * chain (the per-cell floor costs < 1e-12·N relative — stated, the
    * X151 LB discipline). The G-test term needs a log, so each cell
    * takes ONE stated double chain to an integer —
    * `g_cell = round(1e6·2·O·ln((O·N)/(R·C)))` with the products and
    * quotient in doubles in that order — and the SUM rides exact
    * integers (never running doubles). `v_micro` presents Cramér's
    * V = √(χ²/(N·min(r−1,c−1))) from chi2_micro, clamped below at 0
    * before the root (floor noise can push an exactly-independent
    * table a hair negative — the one stated clamp, at the exact-zero
    * boundary only).
    *
    * Rules, each STATED: NULL categories are real categories
    * ("(null)" — an audit must see them); r = 1 or c = 1 (dof 0) emits
    * NULL statistics ("not testable"); more than `maxLevels` distinct
    * levels on either axis REFUSES (a key-like column is not a
    * category; bucket upstream); N > 1e9 per family REFUSES (the
    * DECIMAL budget above).
    *
    * Scale shape: rows collapse to (a, b) cells ONCE; margins and
    * family totals are three more map-side-combinable keyed
    * aggregations; two broadcast-sized joins put R and C beside each
    * cell; no self-joins, no windows, no driver state. Output:
    * `(families…, n, r_levels, c_levels, dof, chi2_micro, g_micro,
    * v_micro)`. */
  def independenceTest(df: DataFrame, families: Seq[String], a: Column,
      b: Column, maxLevels: Int = 1000): DataFrame = {
    require(maxLevels >= 2 && maxLevels <= 100000,
      s"maxLevels must be in [2, 1e5], got $maxLevels")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+
        coalesce(a.cast("string"), lit("(null)")).as("__a") :+
        coalesce(b.cast("string"), lit("(null)")).as("__b"): _*)
    val cells = base.groupBy(fam :+ col("__a") :+ col("__b"): _*)
      .agg(count(lit(1)).as("__o"))
      // the raw frame is scanned ONCE: margins and the terms all read
      // the cached cells; the per-family result is eagerly checkpointed
      // before the cache drops
      .persist()
    try {
    val rTot = cells.groupBy(fam :+ col("__a"): _*)
      .agg(sum(col("__o")).as("__r"))
    val cTot = cells.groupBy(fam :+ col("__b"): _*)
      .agg(sum(col("__o")).as("__c"))
    val levels = Refuse.rows(rTot.groupBy(fam: _*)
      .agg(count(lit(1)).as("r_levels"), sum(col("__r")).as("n"))
      .join(cTot.groupBy(fam: _*).agg(count(lit(1)).as("c_levels")),
        families),
      (col("r_levels") > maxLevels || col("c_levels") > maxLevels ||
        col("n") > 1000000000L) -> lit(
        s"independenceTest: a family exceeds $maxLevels levels on an axis " +
          "(a key-like column is not a category; bucket upstream) or 1e9 " +
          "rows (the DECIMAL(38) cell-term budget)"))
    val terms = cells
      .join(rTot, families :+ "__a")
      .join(cTot, families :+ "__b")
      .join(levels.select(fam :+ col("n").as("__n"): _*), families)
      .withColumn("__t", expr(
        """CAST((CAST(__o AS DECIMAL(38,0)) * __o * 1000000000000
          |  - (CAST(__o AS DECIMAL(38,0)) * __o * 1000000000000)
          |    % (CAST(__r AS DECIMAL(38,0)) * __c))
          | / (CAST(__r AS DECIMAL(38,0)) * __c) AS DECIMAL(38,0))"""
          .stripMargin))
      .withColumn("__g", expr(
        """CAST(round(1000000 * 2 * __o *
          |  ln((CAST(__o AS DOUBLE) * __n)
          |     / (CAST(__r AS DOUBLE) * __c))) AS BIGINT)"""
          .stripMargin))
    val perFam = terms
      .groupBy(fam: _*)
      .agg(sum(col("__t")).as("__S"), sum(col("__g").cast(d)).as("__G"))
    levels.join(perFam, families)
      .withColumn("dof",
        (col("r_levels") - 1) * (col("c_levels") - 1))
      .withColumn("chi2_micro", when(col("dof") >= 1, expr(
        """CAST(round(CAST(n AS DOUBLE)
          |  * (CAST(__S AS DOUBLE) - 1000000000000) / 1e6) AS BIGINT)"""
          .stripMargin)))
      .withColumn("g_micro",
        when(col("dof") >= 1, col("__G").cast("long")))
      .withColumn("v_micro", when(col("dof") >= 1, expr(
        """CAST(round(1000000 * sqrt(
          |  greatest(CAST(chi2_micro AS DOUBLE) / 1e6, 0e0)
          |  / (CAST(n AS DOUBLE)
          |     * least(r_levels - 1, c_levels - 1)))) AS BIGINT)"""
          .stripMargin)))
      .select(fam :+ col("n") :+ col("r_levels") :+ col("c_levels") :+
        col("dof") :+ col("chi2_micro") :+ col("g_micro") :+
        col("v_micro"): _*)
      .localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X157 — Cohen's kappa, unweighted and weighted (Cohen, EPM 1960;
    * weighted form Cohen, Psych. Bull. 1968): chance-corrected agreement
    * between TWO raters over the same units — the LLM-JUDGE audit
    * primitive ("does the judge agree with the human beyond chance?",
    * "do two quality proxies measure the same construct?") that raw
    * percent-agreement overstates whenever the label mix is skewed
    * (two raters calling 95% of docs "clean" agree 90% by luck alone;
    * kappa is the number that stays honest). [[independenceTest]] asks
    * whether the columns are RELATED; kappa asks whether they are the
    * SAME — association is necessary but nowhere near sufficient.
    *
    * One formula covers all three faces via DISAGREEMENT weights
    * w(i,j): kappa = 1 − N·Σ w·O / Σ w(i,j)·r_i·c_j, with
    * `weightPower` 0 → w = [i ≠ j] (classical categorical kappa),
    * 1 → w = |i−j| (linear, ordinal labels), 2 → w = (i−j)² (quadratic
    * — the form published ML inter-rater studies default to, and the
    * one that equals the ICC asymptotically). Every operand is an
    * exact integer: cells O from ONE keyed count, margins r/c from two
    * more, Σ w·O and Σ w·r·c in DECIMAL(38,0), and the presentations
    * are single floor divisions on NON-NEGATIVE operands (truncate ≡
    * floor, the X86 shared semantics): `dw_obs_micro = Σw·O·1e6 DIV N`
    * and `dw_exp_micro = Σw·r·c·1e6 DIV N²` (mean disagreement weight,
    * observed vs chance — for weightPower 0 these are 1−p_o and 1−p_e
    * in micros), `kappa_micro = 1e6 − (N·Σw·O·1e6 DIV Σw·r·c)`.
    *
    * Rules, each STATED: a NULL rating on either side drops the unit
    * (a missing annotation is not a disagreement — the
    * [[wilcoxonSignedRank]] pair stance); Σw·r·c = 0 (both raters
    * constant on one shared label — chance agreement is already total)
    * → NULL kappa, never 1 or 0; weightPower ≥ 1 REFUSES labels that
    * do not cast to integers (ordinal weights need an ordinal scale)
    * and |label| > 1e6 (the w ≤ 4e12 DECIMAL budget); more than
    * `maxLevels` distinct labels across both raters REFUSES (key-like
    * columns are not rating scales); N > 1e9 per family REFUSES
    * (N²·w·1e6 ≤ 4e36 keeps every product inside DECIMAL(38,0)).
    *
    * Scale shape: rows collapse to (a, b) cells ONCE (map-side
    * combinable, ≤ levels² rows); margins are two more keyed
    * aggregations; the expected sum is a margins×margins join WITHIN
    * family (≤ maxLevels² rows — margins-sized², never corpus-sized);
    * no windows, no driver state beyond bounded probes. Output:
    * `(families…, n, k_levels, dw_obs_micro, dw_exp_micro,
    * kappa_micro)`. */
  def cohenKappa(df: DataFrame, families: Seq[String], a: Column,
      b: Column, weightPower: Int = 0, maxLevels: Int = 1000): DataFrame = {
    require(weightPower >= 0 && weightPower <= 2,
      s"weightPower must be 0 (categorical), 1 (linear) or 2 " +
        s"(quadratic), got $weightPower")
    require(maxLevels >= 2 && maxLevels <= 10000,
      s"maxLevels must be in [2, 1e4], got $maxLevels")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val raw = df.select(fam :+ a.as("__ra") :+ b.as("__rb"): _*)
      .filter(col("__ra").isNotNull && col("__rb").isNotNull)
    val base =
      if (weightPower == 0)
        raw.select(fam :+ col("__ra").cast("string").as("__a") :+
          col("__rb").cast("string").as("__b"): _*)
      else
        // try_cast: a non-numeric label must surface as the stated
        // refusal below, not as an ANSI runtime cast error
        raw.select(fam :+ expr("try_cast(__ra AS LONG)").as("__a") :+
          expr("try_cast(__rb AS LONG)").as("__b"): _*)
    // the raw frame is scanned ONCE: the level census, the margins,
    // and the observed sum all read the cached cells; the census probe
    // below is the first job to read them, so the label refusals fire
    // there
    val collapsed = base.groupBy(fam :+ col("__a") :+ col("__b"): _*)
      .agg(count(lit(1)).as("__o"))
    val cells = (if (weightPower >= 1) Refuse.rows(collapsed,
        (col("__a").isNull || col("__b").isNull) -> lit(
          "cohenKappa: a label does not cast to an integer — ordinal " +
            "disagreement weights need an ordinal scale; use " +
            "weightPower = 0 for categorical labels"),
        (abs(col("__a")) > 1000000L || abs(col("__b")) > 1000000L) -> lit(
          "cohenKappa: |label| > 1e6 — the (i-j)^2 DECIMAL budget; " +
            "re-index the scale upstream"))
      else collapsed).persist()
    try {
      val w: (Column, Column) => Column = weightPower match {
        case 0 => (x, y) => when(x === y, lit(0L)).otherwise(lit(1L))
        case 1 => (x, y) => abs(x - y)
        case _ => (x, y) => (x - y) * (x - y)
      }
      val rTot = cells.groupBy(fam :+ col("__a"): _*)
        .agg(sum(col("__o")).as("__r"))
      val cTot = cells.groupBy(fam :+ col("__b"): _*)
        .agg(sum(col("__o")).as("__c"))
      val lvls = rTot.select(fam :+ col("__a").as("__l"): _*)
        .union(cTot.select(fam :+ col("__b").as("__l"): _*))
        .distinct()
        .groupBy(fam: _*).agg(count(lit(1)).as("k_levels"))
      val obs = cells.groupBy(fam: _*)
        .agg(sum(col("__o")).as("n"),
          sum((col("__o").cast(d) * w(col("__a"), col("__b")))
            .cast(d)).as("__WO"))
      val census = obs.join(lvls, families.toSeq)
      val over = census.filter(col("k_levels") > maxLevels ||
          col("n") > 1000000000L).limit(1).collect()
      require(over.isEmpty,
        s"cohenKappa: a family exceeds $maxLevels distinct labels (a " +
          "key-like column is not a rating scale) or 1e9 rows (the " +
          "DECIMAL(38) budget)")
      val expd = rTot.join(cTot, families.toSeq)
        .groupBy(fam: _*)
        .agg(sum((col("__r").cast(d) * col("__c") *
          w(col("__a"), col("__b"))).cast(d)).as("__WE"))
      census.join(expd, families.toSeq)
        .withColumn("dw_obs_micro", expr(
          """CAST((__WO * 1000000 - (__WO * 1000000)
            |  % CAST(n AS DECIMAL(38,0)))
            | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .withColumn("dw_exp_micro", expr(
          """CAST((__WE * 1000000 - (__WE * 1000000)
            |  % (CAST(n AS DECIMAL(38,0)) * n))
            | / (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin))
        .withColumn("kappa_micro", when(col("__WE") > 0, expr(
          """1000000 - CAST((CAST(n AS DECIMAL(38,0)) * __WO * 1000000
            |  - (CAST(n AS DECIMAL(38,0)) * __WO * 1000000) % __WE)
            | / __WE AS BIGINT)""".stripMargin)))
        .select(fam :+ col("n") :+ col("k_levels") :+
          col("dw_obs_micro") :+ col("dw_exp_micro") :+
          col("kappa_micro"): _*)
        .localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X158 — average precision, the step-interpolated precision-recall
    * summary (the scikit-learn `average_precision_score` form; Zhu
    * 2004 surveys why PR beats ROC under class imbalance): [[aucReport]]
    * scores the same ranking by P(pos above neg), which stays
    * flattering when positives are 1 in 10⁴ — retrieval and rare-label
    * curation gates read AP instead, because precision charges every
    * false positive above the cut. AP = Σ_t ΔR_t·P_t over DESCENDING
    * distinct score thresholds — ΔR_t = tp_t/P (recall gained AT
    * threshold t), P_t = cumTp_t/cumN_t (precision at t) — which is
    * tie-free BY CONSTRUCTION (a threshold admits its whole score
    * level; no within-level order exists to disagree on, the reason
    * this form replays across engines and the trapezoid does not).
    *
    * Exactness: score levels collapse to cells (n_t, tp_t) in ONE
    * keyed aggregation; cumulative counts are one per-family window;
    * each term is a POSITIVE rational floored once to pico —
    * (tp_t·cumTp_t·1e12) DIV (P·cumN_t) — and the sum rides exact
    * DECIMAL(38,0) (the X151 stance: never running doubles);
    * `ap_micro = Σ DIV 1e6` (error ≤ #thresholds pico, documented),
    * `prevalence_micro = P·1e6 DIV N` — the all-tied degeneracy pin:
    * a constant score yields AP = prevalence exactly.
    *
    * Rules, each STATED: label must be exactly 0/1 or boolean (REFUSED
    * otherwise, the [[cochranQ]] stance); NULL score or label drops
    * the row; P = 0 → NULL ap ("nothing to retrieve", never 0);
    * N > 1e12 per family REFUSES (tp·cumTp·1e12 ≤ 1e36 keeps every
    * term inside DECIMAL(38,0)).
    *
    * Scale shape: one cells aggregation (distinct scores cross the
    * shuffle, not rows) + one family-keyed cumulative window over
    * cells + one rollup — the [[ksTest]] shape. Output: `(families…,
    * n, n_pos, prevalence_micro, ap_micro)`. */
  def averagePrecision(df: DataFrame, families: Seq[String],
      score: Column, label: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    // the refusal reads a DOUBLE cast of the raw label, not the
    // truncating long cast — a fractional 0.5/1.9 label must REFUSE
    // per the stated contract, not silently truncate to 0/1 (ADVICE r17)
    val base = Refuse.rows(df.select(fam :+ score.as("__s") :+
        label.cast("long").as("__y") :+
        label.cast("double").as("__yd"): _*)
      .filter(col("__s").isNotNull && col("__y").isNotNull),
      !coalesce(col("__yd") === 0d || col("__yd") === 1d, lit(false)) -> lit(
        "averagePrecision: label must be exactly 0/1 or boolean — " +
          "threshold upstream; a silent truthiness coercion would move " +
          "the statistic without saying so"))
    val cells = base.groupBy(fam :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__tp"))
      .persist()
    try {
      val tot = Refuse.rows(cells.groupBy(fam: _*)
        .agg(sum(col("__n")).as("n"), sum(col("__tp")).as("n_pos")),
        (col("n") > 1000000000000L) -> lit(
          "averagePrecision: a family exceeds 1e12 rows — the pico term " +
            "DECIMAL(38) budget"))
      val w = Window.partitionBy(fam: _*).orderBy(col("__s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val terms = cells
        .withColumn("__ctp", sum(col("__tp")).over(w))
        .withColumn("__cn", sum(col("__n")).over(w))
        .join(tot.select(fam :+ col("n_pos").as("__P"): _*), families.toSeq)
        .filter(col("__tp") > 0)
        .withColumn("__t", expr(
          """CAST((CAST(__tp AS DECIMAL(38,0)) * __ctp * 1000000000000
            |  - (CAST(__tp AS DECIMAL(38,0)) * __ctp * 1000000000000)
            |    % (CAST(__P AS DECIMAL(38,0)) * __cn))
            | / (CAST(__P AS DECIMAL(38,0)) * __cn)
            | AS DECIMAL(38,0))""".stripMargin))
      val perFam = terms.groupBy(fam: _*)
        .agg(sum(col("__t")).as("__S"))
      tot.join(perFam, families.toSeq, "left")
        .withColumn("prevalence_micro", expr(
          """CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000
            |  - (CAST(n_pos AS DECIMAL(38,0)) * 1000000)
            |    % CAST(n AS DECIMAL(38,0)))
            | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .withColumn("ap_micro", when(col("n_pos") > 0, expr(
          """CAST((__S - __S % 1000000) / 1000000 AS BIGINT)"""
        )))
        .select(fam :+ col("n") :+ col("n_pos") :+
          col("prevalence_micro") :+ col("ap_micro"): _*)
        .localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X162 — Fleiss' kappa (Fleiss, Psych. Bull. 1971): chance-corrected
    * agreement for a PANEL — [[cohenKappa]] is two NAMED raters;
    * production annotation runs n interchangeable raters per unit
    * (crowd labels, an LLM-judge ensemble, k-fold human QA), and
    * Fleiss' kappa is the number those readouts publish. Input is one
    * row per RATING (unit, category); per unit, P_i = (Σ_j n_ij² − n) /
    * (n(n−1)) is the fraction of agreeing rater pairs, P̄ their mean,
    * P̄_e = Σ_j p_j² the chance rate from the category margins, and
    * κ = (P̄ − P̄_e)/(1 − P̄_e).
    *
    * Exactness: with N units and n ratings each, A = Σ_ij n_ij² − N·n
    * and B = Σ_j (Σ_i n_ij)² are exact integers; κ is the exact
    * rational (A·(Nn)² − B·Nn(n−1)) / (Nn(n−1)·((Nn)² − B)), presented
    * as ONE truncating micro division (toward zero on either sign, the
    * X86 shared semantics); `pbar_micro = A·1e6 DIV (Nn(n−1))` and
    * `pe_micro = B·1e6 DIV (Nn)²` are single floors on non-negative
    * operands.
    *
    * Rules, each STATED: the classical design requires a CONSTANT
    * rating count per unit — unequal counts REFUSE (the [[friedman]]
    * complete-block stance; drop or impute upstream, silently
    * reweighting would move the statistic); NULL unit drops the row;
    * NULL category is a REAL category ("(null)" — a rater abstaining
    * is a rating outcome, the [[independenceTest]] stance); n = 1
    * (one rating per unit) → NULL ("agreement of a panel of one is
    * not testable"); B = (Nn)² (every rating one category — chance
    * agreement already total) → NULL κ, never 1; n > 1000 REFUSES
    * (a unit rated by more than 1000 raters is not a panel — and the
    * A·(Nn)²·1e6 DECIMAL budget needs the bound), N·n > 1e9 REFUSES.
    * The n = 2 face is Scott's π (raters interchangeable), NOT
    * [[cohenKappa]] at n = 2 (which conditions on WHICH rater said
    * what) — documented so nobody "reconciles" them.
    *
    * Scale shape: one (unit, category) cells aggregation + one
    * unit-keyed margin + one category-keyed margin + one family
    * rollup — map-side combinable throughout, no windows, no
    * self-joins. Output: `(families…, n_units, n_raters,
    * k_categories, pbar_micro, pe_micro, kappa_micro)`. */
  def fleissKappa(df: DataFrame, families: Seq[String], unit: Column,
      category: Column): DataFrame = {
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+ unit.cast("string").as("__u") :+
        coalesce(category.cast("string"), lit("(null)")).as("__cat"): _*)
      .filter(col("__u").isNotNull)
    val cells = base.groupBy(fam :+ col("__u") :+ col("__cat"): _*)
      .agg(count(lit(1)).as("__nij"))
      .persist()
    try {
      val unitAgg = cells.groupBy(fam :+ col("__u"): _*)
        .agg(sum(col("__nij")).as("__r"),
          sum((col("__nij").cast(d) * col("__nij"))).as("__s2"))
      val famN = Refuse.rows(unitAgg.groupBy(fam: _*)
        .agg(count(lit(1)).as("n_units"),
          min(col("__r")).as("__n"), max(col("__r")).as("__nmax"),
          sum(col("__s2")).as("__S2")),
        (col("__n") =!= col("__nmax")) -> lit(
          "fleissKappa: units carry unequal rating counts — the " +
            "classical design needs a constant panel size per unit; " +
            "drop or impute upstream (silent reweighting would move " +
            "the statistic)"),
        (col("__n") > 1000L || col("n_units") * col("__n") > 1000000000L) -> lit(
          "fleissKappa: more than 1000 raters per unit or 1e9 total " +
            "ratings per family — the A·(Nn)² DECIMAL(38) budget"))
      val catAgg = cells.groupBy(fam :+ col("__cat"): _*)
        .agg(sum(col("__nij")).as("__cj"))
      val famB = catAgg.groupBy(fam: _*)
        .agg(sum((col("__cj").cast(d) * col("__cj"))).as("__B"),
          count(lit(1)).as("k_categories"))
      famN.join(famB, families.toSeq)
        .withColumn("__Nn", (col("n_units").cast(d) * col("__n")))
        .withColumn("__A", col("__S2") - col("__Nn"))
        .withColumn("pbar_micro", when(col("__n") >= 2, expr(
          """CAST((__A * 1000000 - (__A * 1000000)
            |  % (__Nn * (__n - 1))) / (__Nn * (__n - 1))
            | AS BIGINT)""".stripMargin)))
        .withColumn("pe_micro", expr(
          """CAST((__B * 1000000 - (__B * 1000000) % (__Nn * __Nn))
            | / (__Nn * __Nn) AS BIGINT)""".stripMargin))
        .withColumn("kappa_micro",
          when(col("__n") >= 2 && col("__Nn") * col("__Nn") > col("__B"),
            expr(
              """CAST(((__A * __Nn * __Nn - __B * __Nn * (__n - 1))
                |    * 1000000
                |  - ((__A * __Nn * __Nn - __B * __Nn * (__n - 1))
                |    * 1000000)
                |    % (__Nn * (__n - 1) * (__Nn * __Nn - __B)))
                | / (__Nn * (__n - 1) * (__Nn * __Nn - __B))
                | AS BIGINT)""".stripMargin)))
        .select(fam :+ col("n_units") :+ col("__n").as("n_raters") :+
          col("k_categories") :+ col("pbar_micro") :+ col("pe_micro") :+
          col("kappa_micro"): _*)
        .localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X164 — cumulative gains and lift table (the campaign-targeting /
    * model-triage readout every scoring deployment publishes; Berry &
    * Linoff's classic presentation): [[averagePrecision]] summarizes a
    * ranking in ONE number; the gains table answers the operational
    * question — "if I act on the top j/k of the ranking, what fraction
    * of the positives do I capture (gain), and how much better than
    * random is that (lift)?" — the curve a budget decision actually
    * reads.
    *
    * Tie discipline: depth boundaries are EXACT row counts
    * `b_j = (j·N) DIV k`, and a score level straddling a boundary
    * contributes its positives PRO-RATA — `tp_l·(b_j − cumPrev)/n_l` —
    * the [[aucReport]] half-credit convention lifted to depths (equal
    * scores are indistinguishable; charging them by any secondary
    * order would make the table an artifact of row order). Each
    * partial term is a POSITIVE rational floored once to pico and the
    * sums ride exact integers (the X151 stance); `captured_pico` at
    * full depth is P·1e12 EXACTLY (every level contributes whole), so
    * the last bucket's gain and lift are exactly 1e6 — the built-in
    * self-check. `gain_micro = captured_pico DIV (P·1e6)`,
    * `lift_micro = captured_pico·N DIV (P·b_j·1e6)`.
    *
    * Rules, each STATED: label must be exactly 0/1 or boolean
    * (REFUSED otherwise); NULL score/label drops; P = 0 → NULL gain
    * and lift ("nothing to capture", never 0); a depth with b_j = 0
    * (N < k) emits 0 gain and NULL lift (an empty action set has no
    * lift); N > 1e12 per family REFUSES (the pico DECIMAL budget);
    * k ∈ [2, 1000].
    *
    * Scale shape: the [[averagePrecision]] cells + window, then ONE
    * broadcast-sized join against the k-row depth frame per family
    * (levels×k intermediate, boundary-pruned) + one rollup. Output:
    * one row per (family, bucket): `(families…, bucket, depth_rows,
    * gain_micro, lift_micro)`. */
  def gainsTable(df: DataFrame, families: Seq[String], score: Column,
      label: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2, 1000], got $buckets")
    val d = DecimalType(38, 0)
    val fam = families.map(col)
    // DOUBLE-cast check so fractional labels REFUSE instead of
    // truncating past the check (ADVICE r17, the averagePrecision fix)
    val base = Refuse.rows(df.select(fam :+ score.as("__s") :+
        label.cast("long").as("__y") :+
        label.cast("double").as("__yd"): _*)
      .filter(col("__s").isNotNull && col("__y").isNotNull),
      !coalesce(col("__yd") === 0d || col("__yd") === 1d, lit(false)) -> lit(
        "gainsTable: label must be exactly 0/1 or boolean — threshold " +
          "upstream"))
    val cells = base.groupBy(fam :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__tp"))
      .persist()
    try {
      val tot = Refuse.rows(cells.groupBy(fam: _*)
        .agg(sum(col("__n")).as("__N"), sum(col("__tp")).as("__P")),
        (col("__N") > 1000000000000L) -> lit(
          "gainsTable: a family exceeds 1e12 rows — the pico term " +
            "DECIMAL(38) budget"))
      val w = Window.partitionBy(fam: _*).orderBy(col("__s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cells
        .withColumn("__cn", sum(col("__n")).over(w))
        .withColumn("__prev", col("__cn") - col("__n"))
      val spark = df.sparkSession
      import spark.implicits._
      val depthIdx = broadcast((1 to buckets).toDF("bucket"))
      val depths = tot.crossJoin(depthIdx)
        .withColumn("depth_rows", expr(
          s"""CAST((CAST(bucket AS DECIMAL(38,0)) * __N
             |  - (CAST(bucket AS DECIMAL(38,0)) * __N) % $buckets)
             | / $buckets AS BIGINT)""".stripMargin))
      val terms = cum.join(
          depths.select(fam :+ col("bucket") :+ col("depth_rows"): _*),
          families.toSeq)
        .withColumn("__take",
          greatest(lit(0L), least(col("__n"),
            col("depth_rows") - col("__prev"))))
        .filter(col("__take") > 0 && col("__tp") > 0)
        .withColumn("__t", expr(
          """CAST((CAST(__tp AS DECIMAL(38,0)) * __take * 1000000000000
            |  - (CAST(__tp AS DECIMAL(38,0)) * __take * 1000000000000)
            |    % CAST(__n AS DECIMAL(38,0)))
            | / CAST(__n AS DECIMAL(38,0)) AS DECIMAL(38,0))"""
            .stripMargin))
        .groupBy(fam :+ col("bucket"): _*)
        .agg(sum(col("__t")).as("__cap"))
      depths.join(terms, families :+ "bucket", "left")
        .withColumn("__capz", coalesce(col("__cap"),
          lit(0L).cast(d)))
        .withColumn("gain_micro", when(col("__P") > 0, expr(
          """CAST((__capz - __capz % (CAST(__P AS DECIMAL(38,0)) * 1000000))
            | / (CAST(__P AS DECIMAL(38,0)) * 1000000) AS BIGINT)"""
            .stripMargin)))
        .withColumn("lift_micro",
          when(col("__P") > 0 && col("depth_rows") > 0, expr(
            """CAST((__capz * __N - (__capz * __N)
              |  % (CAST(__P AS DECIMAL(38,0)) * depth_rows * 1000000))
              | / (CAST(__P AS DECIMAL(38,0)) * depth_rows * 1000000)
              | AS BIGINT)""".stripMargin)))
        .select(fam :+ col("bucket").cast("long").as("bucket") :+
          col("depth_rows") :+ col("gain_micro") :+
          col("lift_micro"): _*)
        .localCheckpoint(true)
    } finally cells.unpersist()
  }
}
