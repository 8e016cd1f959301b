package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.StepTable
import graft.core.StepTable.Broken

/** X104 — Kaplan-Meier survival curves (Kaplan & Meier, JASA 1958): the
  * time-to-event primitive behind churn/retention-duration analysis with
  * RIGHT-CENSORED subjects — users still active at observation end have
  * not churned YET, and simply dropping them biases every naive
  * "average lifetime" low. KM handles censoring by construction: at each
  * distinct event time t with n subjects still at risk and d events,
  * survival multiplies by (n − d)/n; censored subjects leave the risk
  * set without contributing an event.
  *
  * Exact fixed-point contract (the X71/X87 trajectory rules): survival
  * runs in integer micros with a FLOOR at every step —
  * S_i = S_{i−1}·(n_i − d_i) DIV n_i, S_0 = 1e6 — all operands
  * non-negative, so any engine replays the whole trajectory
  * bit-for-bit (a recursive CTE in SQL); no float product, no
  * exp(Σlog) drift. Durations must be non-negative integers in the
  * caller's unit (days, hours — bucket upstream; sub-unit ties ARE ties,
  * the standard KM discretization).
  *
  * X116 adds the two companions every survival readout is published
  * with (both consuming the same bounded step table):
  *  - [[kaplanMeierCI]] — Greenwood (1926) standard errors and the
  *    z·SE confidence band: the variance accumulator
  *    G = Σ d_i/(n_i(n_i−d_i)) is a RUNNING SUM of per-step floored
  *    nano terms (exact integers, engine-replayable with a plain
  *    windowed sum — no recursion needed beyond the S trajectory),
  *    and only the last-step presentation (one division, one sqrt, two
  *    multiplies, one round — the q234 Welch discipline) touches
  *    doubles.
  *  - [[logRank]] — the Mantel (1966) two-group log-rank test:
  *    observed-vs-expected events accumulated over pooled event times,
  *    every E and V term an exact floored integer (micro / nano) built
  *    from HUGEINT-replayable products, one IEEE chain for the final
  *    χ² presentation.
  *
  * Scale shape: one (group, t)-keyed aggregation with map-side combine
  * (events + at-risk totals), ONE keyed window for the risk-set counts
  * (cumulative departures — a group's sort is bounded by its distinct
  * DURATIONS, not its subjects), then the sequential folds run
  * DRIVER-side over the step table, a [[StepTable]] — which is
  * (groups × distinct event times)-sized, never subject-sized;
  * `maxSteps` refuses a duration column with key-like cardinality (the
  * [[Markov.stationary]] bounded-collect stance: pass bucketed
  * durations, not raw micros). */
object Survival {

  /** The (group, t, at-risk, events, departures) step table every face
    * consumes — one keyed aggregation + one keyed window, a bounded
    * [[StepTable]]. `eventsOnly` keeps only d > 0 rows (the KM steps) and
    * the negative-duration rows the refusal reads; the log-rank risk walk
    * needs every departure row. */
  private def stepTable(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int, eventsOnly: Boolean): StepTable = {
    require(maxSteps >= 1, s"maxSteps must be positive, got $maxSteps")
    val base = df.select(
        coalesce(group.cast("string"), lit("(null)")).as("__g"),
        duration.cast("long").as("__t"), event.cast("boolean").as("__e"))
      .filter(col("__t").isNotNull && col("__e").isNotNull)
    val perT = base.groupBy(col("__g"), col("__t"))
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__all"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__t")
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val steps = perT
      .withColumn("__before", coalesce(sum(col("__all"))
        .over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("__n", sum(col("__all")).over(wg) - col("__before"))
      .filter(if (eventsOnly) col("__d") > 0 || col("__t") < 0 else lit(true))
      .select(col("__g"), col("__t"), col("__n"), col("__d"), col("__all"))
    StepTable(steps, Seq("__g", "__t"), maxSteps,
      s"more than $maxSteps survival steps — a duration column with " +
        "key-like cardinality is raw time, not a bucketed span; bucket " +
        "upstream",
      Broken(col("__t") < 0,
        "negative duration — time-to-event is an elapsed span; fix the " +
          "construction upstream"))
  }

  /** `(t, n_risk, d_events)` of a [[stepTable]] row. */
  private def step(r: Row): (Long, Long, Long) =
    (r.getLong(1), r.getLong(2), r.getLong(3))

  /** The whole step table, for the log-rank faces' pooled walk:
    * `(grp, t, n_risk, d_events, departures)` rows. */
  private def stepRows(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int): Seq[(String, Long, Long, Long, Long)] =
    stepTable(df, group, duration, event, maxSteps, eventsOnly = false)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  /** One row per (group, event time): `(grp, t, n_risk, d_events,
    * s_micro)` — survival AFTER the deaths at `t`. NULL groups form the
    * real group "(null)" (the X88 stance); NULL durations/events drop. */
  def kaplanMeier(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int = 100000): DataFrame = {
    stepTable(df, group, duration, event, maxSteps, eventsOnly = true)
      .fold("grp", "t", "n_risk", "d_events", "s_micro") { (g, rows) =>
        var s = 1000000L
        rows.map(step).map { case (t, n, d) =>
          s = s * (n - d) / n // non-negative floor, engine-replayable
          (g, t, n, d, s)
        }
      }
  }

  /** X116 — [[kaplanMeier]] with Greenwood standard errors and the
    * plain z·SE confidence band: Var(S) = S²·Σ_{t_i≤t} d/(n(n−d))
    * (Greenwood 1926). The accumulator G rides in nano units with a
    * floor per TERM — `gw += d·1e9 DIV (n·(n−d))`, exact integers an
    * engine replays with a running sum — and the presentation is the
    * q234 chain, stated once: `r = sqrt(gw/1e9)`, `se = round(S_µ·r)`,
    * `margin = round(z·(S_µ·r))`, band clamped to [0, 1e6] (the
    * clamp-free published form is [[kaplanMeierLogLogCI]]). A step
    * where EVERYONE at risk dies (n = d) makes the Greenwood term
    * infinite at S = 0: that row and the group's later rows emit NULL
    * se/lo/hi ("variance undefined", never a fake 0 — the X113
    * unmeasurable stance). `zMicro` is a hardcoded micro literal
    * (default z₀.₀₂₅ = 1959964 — no engine evaluates an inverse
    * normal, the X112 stance).
    * Output: `(grp, t, n_risk, d_events, s_micro, se_micro, lo_micro,
    * hi_micro)`. */
  def kaplanMeierCI(df: DataFrame, group: Column, duration: Column,
      event: Column, zMicro: Long = 1959964L,
      maxSteps: Int = 100000): DataFrame = {
    require(zMicro > 0, s"zMicro must be positive, got $zMicro")
    val zd = zMicro.toDouble / 1e6
    stepTable(df, group, duration, event, maxSteps, eventsOnly = true)
      .fold("grp", "t", "n_risk", "d_events", "s_micro",
        "se_micro", "lo_micro", "hi_micro") { (g, rows) =>
        var s = 1000000L
        var gw = 0L // Σ d·1e9 DIV (n·(n−d)), floored per term
        var poisoned = false
        rows.map(step).map { case (t, n, d) =>
          s = s * (n - d) / n
          if (n == d) poisoned = true
          if (poisoned) (g, t, n, d, s, None, None, None)
          else {
            // BigInt: n·(n−d) overflows Long past ~4.3e9 at risk
            gw += (BigInt(d) * 1000000000L / (BigInt(n) * (n - d))).toLong
            val r = math.sqrt(gw.toDouble / 1e9)
            val se = math.round(s.toDouble * r)
            val margin = math.round(zd * (s.toDouble * r))
            (g, t, n, d, s, Some(se), Some(math.max(0L, s - margin)),
              Some(math.min(1000000L, s + margin)))
          }
        }
      }
  }

  /** X145 — the log(−log S) (complementary log-log) Kaplan-Meier band
    * the [[kaplanMeierCI]] doc defers to: the symmetric z·SE band
    * misbehaves near 0/1 (it needs clamping, and a clamped bound is a
    * statement about the clamp, not the data) — transforming to
    * log(−log S) gives bounds PROVABLY inside (0, 1) with no clamp,
    * which is why survival readouts publish this form (R `survfit`'s
    * conf.type="log-log"; Kalbfleisch & Prentice 1980 §1.4). Same step
    * table, same exact accumulators as [[kaplanMeierCI]] (floor-product
    * S in micros, Greenwood sum G as floored nano terms); the band is
    * ONE stated IEEE chain per row, gaining one ln/exp pair over the
    * symmetric chain (the X106 round-then-exact discipline):
    * `sd = s_µ/1e6`, `se = sqrt(gw/1e9) / (−ln sd)`,
    * `lo = round(1e6·exp(exp(+z·se)·ln sd))`,
    * `hi = round(1e6·exp(exp(−z·se)·ln sd))` — pow stated as exp·ln so
    * both engines evaluate the identical op sequence. S = 0 (risk set
    * died out, or the floor product reached zero) makes the transform
    * undefined: NULL se/lo/hi from that row on, never a fake bound (the
    * X113 unmeasurable stance); S is strictly below 1e6 from the first
    * event row, so ln S = 0 cannot occur. Scale shape = [[kaplanMeier]]:
    * the one shared step-table aggregation + window, bounded driver
    * fold. Output: `(grp, t, n_risk, d_events, s_micro, se_cll_micro,
    * lo_micro, hi_micro)` with se_cll the transformed-scale SE
    * (`round(1e6·se)`). */
  def kaplanMeierLogLogCI(df: DataFrame, group: Column, duration: Column,
      event: Column, zMicro: Long = 1959964L,
      maxSteps: Int = 100000): DataFrame = {
    require(zMicro > 0, s"zMicro must be positive, got $zMicro")
    val zd = zMicro.toDouble / 1e6
    stepTable(df, group, duration, event, maxSteps, eventsOnly = true)
      .fold("grp", "t", "n_risk", "d_events", "s_micro",
        "se_cll_micro", "lo_micro", "hi_micro") { (g, rows) =>
        var s = 1000000L
        var gw = 0L
        rows.map(step).map { case (t, n, d) =>
          s = s * (n - d) / n
          if (n != d)
            gw += (BigInt(d) * 1000000000L / (BigInt(n) * (n - d))).toLong
          if (s == 0L) (g, t, n, d, s, None, None, None)
          else {
            // the one stated chain: ln, sqrt, divide, exp, exp, multiply
            val sd = s.toDouble / 1e6
            val lnS = math.log(sd) // < 0: s < 1e6 from the first event row
            val se = math.sqrt(gw.toDouble / 1e9) / -lnS
            val lo = math.round(1e6 * math.exp(math.exp(zd * se) * lnS))
            val hi = math.round(1e6 * math.exp(math.exp(-zd * se) * lnS))
            (g, t, n, d, s, Some(math.round(1e6 * se)), Some(lo), Some(hi))
          }
        }
      }
  }

  /** X145 — the log-transformed Nelson-Aalen band the [[nelsonAalen]]
    * doc defers to: hazard is non-negative, so the symmetric band's
    * lower clamp at 0 is a statement about the clamp; the log-scale
    * band H·exp(±z·σ_H/H) is provably POSITIVE with no clamp (the
    * standard pairing with conf.type="log"). Same step table and exact
    * micro/pico accumulators as [[nelsonAalen]]; the band is one stated
    * chain per row: `ratio = sqrt(v/1e12)/(h/1e6)`,
    * `lo = round(h·exp(−z·ratio))`, `hi = round(h·exp(+z·ratio))`.
    * H = 0 (a floor-to-zero head step: d·1e6 DIV n = 0 at huge n)
    * makes the transform undefined → NULL band for that row, stated.
    * Output: `(grp, t, n_risk, d_events, h_micro, var_pico, lo_micro,
    * hi_micro)`. */
  def nelsonAalenLogCI(df: DataFrame, group: Column, duration: Column,
      event: Column, zMicro: Long = 1959964L,
      maxSteps: Int = 100000): DataFrame = {
    require(zMicro > 0, s"zMicro must be positive, got $zMicro")
    require(maxSteps >= 1 && maxSteps <= 1000000,
      s"maxSteps must be in [1, 1e6] (pico-sum Long headroom: " +
        s"v <= maxSteps*1e12), got $maxSteps")
    val zd = zMicro.toDouble / 1e6
    stepTable(df, group, duration, event, maxSteps, eventsOnly = true)
      .fold("grp", "t", "n_risk", "d_events", "h_micro",
        "var_pico", "lo_micro", "hi_micro") { (g, rows) =>
        var h = 0L
        var v = 0L
        rows.map(step).map { case (t, n, d) =>
          h += (BigInt(d) * 1000000L / n).toLong
          v += (BigInt(d) * 1000000000000L / (BigInt(n) * n)).toLong
          if (h == 0L) (g, t, n, d, h, v, None, None)
          else {
            val ratio = math.sqrt(v.toDouble / 1e12) / (h.toDouble / 1e6)
            val lo = math.round(h.toDouble * math.exp(-zd * ratio))
            val hi = math.round(h.toDouble * math.exp(zd * ratio))
            (g, t, n, d, h, v, Some(lo), Some(hi))
          }
        }
      }
  }

  /** X116 — two-group log-rank test (Mantel 1966; Peto & Peto 1972):
    * "are these two survival curves the same curve?" — the hypothesis
    * test behind every churn-intervention readout, where eyeballing two
    * KM bands overlaps is not an answer. At each pooled event time with
    * N at risk (n_a + n_b) and d pooled events: group a expects
    * d·n_a/N events; the hypergeometric variance is
    * d·(n_a/N)·(n_b/N)·(N−d)/(N−1); χ² = (O_a − E_a)²/ΣV ~ χ²₁.
    *
    * Exactness: E and V accumulate as per-step FLOORED integers (micro /
    * nano) from products kept inside HUGEINT by the `maxRisk` budget
    * (d·n_a·n_b·(N−d)·1e9 ≤ N⁴/16·1e9 needs N ≤ ~2e7 for a 128-bit
    * replay; default 1e7 with margin — a log-rank over more subjects is
    * overpowered anyway, sample upstream), so any engine replays both
    * sums term for term; only the final χ² presentation
    * (`round(((dd·dd)/v)·1000)` over dd = O_a·1e6 − E_a_micro and
    * v = var_nano) touches doubles, IEEE-correctly-rounded. Exactly two
    * groups are REQUIRED (the K-group statistic needs a matrix inverse —
    * run pairwise); `grp_a` is the lexicographically smaller group, so
    * the statistic's orientation is deterministic. Zero accumulated
    * variance (no time where both groups were at risk with an event)
    * emits NULL χ² — "not testable", not 0.
    *
    * Output: one row — `(grp_a, grp_b, n_a, n_b, o_a, e_a_micro, o_b,
    * e_b_micro, var_nano, chi2_micro)`. */
  def logRank(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int = 100000,
      maxRisk: Long = 10000000L): DataFrame = {
    require(maxRisk >= 2, s"maxRisk must be >= 2, got $maxRisk")
    val rows = stepRows(df, group, duration, event, maxSteps)
    val groups = rows.map(_._1).distinct.sorted
    require(groups.length == 2,
      s"logRank needs exactly two groups, got ${groups.length} " +
        s"(${groups.take(5).mkString(", ")}) — run pairwise")
    val Seq(ga, gb) = groups
    val (totalA, totalB, oa, eaMicro, ob, ebMicro, vNano, chi2) =
      pairFold(rows, ga, gb, maxRisk)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, totalA, totalB, oa, eaMicro, ob, ebMicro, vNano, chi2))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "o_a", "e_a_micro", "o_b",
        "e_b_micro", "var_nano", "chi2_micro")
  }

  /** The two-group O/E/V risk walk over one pair's step rows — the ONE
    * fold [[logRank]] and [[logRankK]] share, so the pairwise face can
    * never drift from the two-group statistic. Returns
    * `(n_a, n_b, o_a, e_a_micro, o_b, e_b_micro, var_nano, chi2_micro)`. */
  private def pairFold(rows: Seq[(String, Long, Long, Long, Long)],
      ga: String, gb: String, maxRisk: Long)
      : (Long, Long, Long, Long, Long, Long, Long, Option[Long]) = {
    val sub = rows.filter(r => r._1 == ga || r._1 == gb)
    val totalA = sub.filter(_._1 == ga).map(_._5).sum
    val totalB = sub.filter(_._1 == gb).map(_._5).sum
    require(totalA + totalB <= maxRisk,
      s"${totalA + totalB} subjects exceed the maxRisk budget ($maxRisk" +
        ") — the 128-bit exact-replay bound; sample upstream")
    // walk pooled times ascending, maintaining each group's risk set
    val byT = sub.groupBy(_._2).toSeq.sortBy(_._1)
    var remA = totalA; var remB = totalB
    var oa = 0L; var ob = 0L; var eaMicro = 0L; var ebMicro = 0L
    var vNano = 0L
    byT.foreach { case (_, ts) =>
      val dA = ts.filter(_._1 == ga).map(_._4).sum
      val dB = ts.filter(_._1 == gb).map(_._4).sum
      val aA = ts.filter(_._1 == ga).map(_._5).sum
      val aB = ts.filter(_._1 == gb).map(_._5).sum
      val d = dA + dB
      val n = remA + remB
      if (d > 0 && n >= 1) {
        oa += dA; ob += dB
        eaMicro += (BigInt(d) * remA * 1000000L / n).toLong
        ebMicro += (BigInt(d) * remB * 1000000L / n).toLong
        if (n >= 2)
          vNano += (BigInt(d) * remA * remB * (n - d) * 1000000000L /
            (BigInt(n) * n * (n - 1))).toLong
      }
      remA -= aA; remB -= aB
    }
    val dd = (oa * 1000000L - eaMicro).toDouble
    val chi2 = if (vNano > 0) Some(math.round(dd * dd / vNano.toDouble * 1000.0))
    else None
    (totalA, totalB, oa, eaMicro, ob, ebMicro, vNano, chi2)
  }

  /** X125 — K-group pairwise log-rank: the convenience deployments ask
    * for the moment a cohort column has more than two values ("which arm
    * differs from which?"). Runs [[pairFold]] over every UNORDERED pair
    * of groups (lexicographic orientation: `grp_a < grp_b`) from ONE
    * bounded step-table collect — the pairwise sweep adds zero Spark
    * jobs beyond the two-group operator's. Emits one row per pair plus
    * `m_tests` = k·(k−1)/2, the BONFERRONI divisor: each pair's χ²₁
    * p-value must be compared at α/m_tests (the standard multiplicity
    * correction; this operator reports, it does not adjudicate — no
    * engine evaluates a χ² CDF, the X112 inverse-normal stance). The
    * proper K-sample statistic (a (k−1)-dim quadratic form with a matrix
    * inverse) is a DIFFERENT operator; pairwise-with-Bonferroni is the
    * conservative field answer. `maxGroups` refuses key-like cohort
    * columns (k groups = k·(k−1)/2 folds over the shared step table).
    * Output: `(grp_a, grp_b, n_a, n_b, o_a, e_a_micro, o_b, e_b_micro,
    * var_nano, chi2_micro, m_tests)`. */
  def logRankK(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int = 100000,
      maxRisk: Long = 10000000L, maxGroups: Int = 20): DataFrame = {
    require(maxRisk >= 2, s"maxRisk must be >= 2, got $maxRisk")
    require(maxGroups >= 2 && maxGroups <= 100,
      s"maxGroups must be in [2, 100], got $maxGroups")
    val rows = stepRows(df, group, duration, event, maxSteps)
    val groups = rows.map(_._1).distinct.sorted
    require(groups.length >= 2,
      s"logRankK needs at least two groups, got ${groups.length}")
    require(groups.length <= maxGroups,
      s"${groups.length} groups exceed maxGroups=$maxGroups — a " +
        "key-like cohort column is not a treatment arm; bucket upstream")
    val pairs = for {
      i <- groups.indices; j <- (i + 1) until groups.length
    } yield (groups(i), groups(j))
    val m = pairs.length.toLong
    val out = pairs.map { case (ga, gb) =>
      val (na, nb, oa, ea, ob, eb, v, chi2) = pairFold(rows, ga, gb, maxRisk)
      (ga, gb, na, nb, oa, ea, ob, eb, v, chi2, m)
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("grp_a", "grp_b", "n_a", "n_b", "o_a", "e_a_micro", "o_b",
      "e_b_micro", "var_nano", "chi2_micro", "m_tests")
  }

  /** X140 — Nelson-Aalen cumulative hazard (Nelson 1972; Aalen 1978):
    * the OTHER canonical survival estimator, published alongside every
    * KM curve — H(t) = Σ_{t_i ≤ t} d_i/n_i estimates cumulative hazard
    * directly (KM's −log S is biased at small n; NA is the unbiased
    * increment sum, and the Breslow S = exp(−H) it induces is the
    * standard tie-robust alternative). Completes the X104/X116 kit:
    * curve (KM), band (Greenwood), tests (log-rank ×3), hazard (this).
    *
    * Exact fixed-point contract: H accumulates as per-step FLOORED
    * micro terms `d·1e6 DIV n` (all non-negative — a running integer
    * sum any engine replays with one windowed sum, no recursion); the
    * Aalen variance Σ d/n² accumulates as floored PICO terms
    * `d·1e12 DIV n²` (n² needs 128 bits past n ~ 3e9; the [[logRank]]
    * maxRisk budget bounds it far below that). Only the optional
    * presentation (se = √(var/1e12), the symmetric z·se band) touches
    * doubles — one stated chain per row, the [[kaplanMeierCI]]
    * discipline, with the LOWER bound clamped at 0 (hazard is
    * non-negative; the log-transformed band is [[nelsonAalenLogCI]]'s
    * contract).
    *
    * Scale shape = [[kaplanMeier]]: the one shared step-table
    * aggregation + window, driver fold over the bounded (groups ×
    * distinct event times) frame. Output: one row per (group, event
    * time) — `(grp, t, n_risk, d_events, h_micro, var_pico, se_micro,
    * lo_micro, hi_micro)`. */
  def nelsonAalen(df: DataFrame, group: Column, duration: Column,
      event: Column, zMicro: Long = 1959964L,
      maxSteps: Int = 100000): DataFrame = {
    require(zMicro > 0, s"zMicro must be positive, got $zMicro")
    // Overflow headroom for the Long running sums below: each micro
    // hazard term d·1e6 DIV n ≤ 1e6 and each pico variance term
    // d·1e12 DIV n² ≤ 1e12 (d ≤ n), so after maxSteps steps
    // h ≤ maxSteps·1e6 and v ≤ maxSteps·1e12. Long holds ~9.2e18, so
    // the pico sum is the binding budget: maxSteps ≤ ~9.2e6. Enforced
    // here (at 1e6, a ~9× margin) so widening maxSteps past the
    // arithmetic budget cannot happen silently.
    require(maxSteps >= 1 && maxSteps <= 1000000,
      s"maxSteps must be in [1, 1e6] (pico-sum Long headroom: " +
        s"v <= maxSteps*1e12), got $maxSteps")
    val zd = zMicro.toDouble / 1e6
    stepTable(df, group, duration, event, maxSteps, eventsOnly = true)
      .fold("grp", "t", "n_risk", "d_events", "h_micro", "var_pico",
        "se_micro", "lo_micro", "hi_micro") { (g, rows) =>
        var h = 0L
        var v = 0L
        rows.map(step).map { case (t, n, d) =>
          h += (BigInt(d) * 1000000L / n).toLong
          v += (BigInt(d) * 1000000000000L / (BigInt(n) * n)).toLong
          // the one stated double chain per row (presentation only)
          val se = math.sqrt(v.toDouble / 1e12)
          val seMicro = math.round(se * 1e6)
          val margin = math.round(zd * (se * 1e6))
          (g, t, n, d, h, v, seMicro, math.max(0L, h - margin), h + margin)
        }
      }
  }

  /** X138 — the PROPER K-sample log-rank statistic (Peto & Peto 1972;
    * the omnibus test [[logRankK]]'s doc defers to): ONE χ²_{k−1} answer
    * to "are any of these k survival curves different?", instead of
    * k·(k−1)/2 Bonferroni-corrected pairwise answers. Over pooled event
    * times with per-group risk sets n_gt, pooled deaths d_t, pooled risk
    * n_t: O_g = Σ d_gt, E_g = Σ d_t·n_gt/n_t, and the hypergeometric
    * covariance Σ_gh = Σ_t d_t(n_t−d_t)/(n_t−1) ·
    * (δ_gh·n_gt/n_t − n_gt·n_ht/n_t²); the statistic is the quadratic
    * form u'Σ⁻¹u over u = O−E restricted to the first k−1 groups
    * (lexicographic — the dropped group is redundant, u sums to 0).
    *
    * Exactness (the X132 discipline): every O, E, and covariance term
    * accumulates as exact floored integers (micro / nano; products kept
    * in 128 bits by the `maxRisk` budget, the [[logRank]] bound —
    * off-diagonal terms are the NEGATED floor of the positive product,
    * so the floor direction is stated); the matrix solve is ONE stated
    * IEEE chain — Gaussian elimination in NATURAL pivot order (no row
    * swaps: the order is part of the spec, which is what lets an engine
    * replay the unrolled elimination op for op), u_g = (O_g·1e6 −
    * E_g_micro)/1e6 and A_gh = Σ_nano/1e9 as the double entries, back
    * substitution ascending, χ² = Σ u_g·x_g in group order,
    * `chi2_micro = round(χ²·1e6)`. A ZERO pivot (singular covariance —
    * some group never shares an at-risk event time) emits NULL — "not
    * testable", never 0. k = 2 delegates to [[pairFold]]'s presentation
    * chain so the two faces are bit-equal by construction (spec-pinned),
    * not merely algebraically equal.
    *
    * Scale shape = [[logRankK]]: the one shared bounded step-table
    * collect, then a (k−1)²-cell driver fold — `maxGroups`-refused.
    * Output: one row per group, ordered —
    * `(grp, n, o, e_micro, k_groups, df, chi2_micro)` (the family-level
    * statistic repeats per row, the q287 scorecard shape). */
  def logRankOmnibus(df: DataFrame, group: Column, duration: Column,
      event: Column, maxSteps: Int = 100000,
      maxRisk: Long = 10000000L, maxGroups: Int = 20): DataFrame = {
    require(maxRisk >= 2, s"maxRisk must be >= 2, got $maxRisk")
    require(maxGroups >= 2 && maxGroups <= 100,
      s"maxGroups must be in [2, 100], got $maxGroups")
    val rows = stepRows(df, group, duration, event, maxSteps)
    val groups = rows.map(_._1).distinct.sorted
    val k = groups.length
    require(k >= 2, s"logRankOmnibus needs at least two groups, got $k")
    require(k <= maxGroups,
      s"$k groups exceed maxGroups=$maxGroups — a key-like cohort " +
        "column is not a treatment arm; bucket upstream")
    val gi = groups.zipWithIndex.toMap
    val totals = groups.map(g => rows.filter(_._1 == g).map(_._5).sum)
    require(totals.sum <= maxRisk,
      s"${totals.sum} subjects exceed the maxRisk budget ($maxRisk) — " +
        "the 128-bit exact-replay bound; sample upstream")
    val o = Array.fill(k)(0L)
    val eMicro = Array.fill(k)(0L)
    val vNano = Array.fill(k - 1, k - 1)(0L)
    val rem = totals.toArray
    rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, ts) =>
      val dG = Array.fill(k)(0L)
      val aG = Array.fill(k)(0L)
      ts.foreach { r => dG(gi(r._1)) += r._4; aG(gi(r._1)) += r._5 }
      val d = dG.sum
      val n = rem.sum
      if (d > 0 && n >= 1) {
        var g = 0
        while (g < k) {
          o(g) += dG(g)
          eMicro(g) += (BigInt(d) * rem(g) * 1000000L / n).toLong
          g += 1
        }
        if (n >= 2) {
          var i = 0
          while (i < k - 1) {
            var j = 0
            while (j < k - 1) {
              // δ_ij·n_i/n − n_i·n_j/n², scaled by d(n−d)/(n−1), as ONE
              // floored 128-bit product per cell; off-diagonals negate
              // AFTER the floor (stated direction)
              val term =
                if (i == j)
                  (BigInt(d) * rem(i) * (n - rem(i)) * (n - d) *
                    1000000000L / (BigInt(n) * n * (n - 1))).toLong
                else
                  -(BigInt(d) * rem(i) * rem(j) * (n - d) *
                    1000000000L / (BigInt(n) * n * (n - 1))).toLong
              vNano(i)(j) += term
              j += 1
            }
            i += 1
          }
        }
      }
      var g = 0
      while (g < k) { rem(g) -= aG(g); g += 1 }
    }
    // the ONE stated IEEE chain (k = 2 reuses pairFold's presentation so
    // the faces can't drift by an ulp)
    val chi2: Option[Long] =
      if (k == 2) {
        val dd = (o(0) * 1000000L - eMicro(0)).toDouble
        val v = vNano(0)(0)
        if (v > 0) Some(math.round(dd * dd / v.toDouble * 1000.0)) else None
      } else {
        val a = Array.tabulate(k - 1, k - 1)((i, j) => vNano(i)(j) / 1e9)
        val u0 = Array.tabulate(k - 1)(g =>
          (o(g) * 1000000L - eMicro(g)) / 1e6)
        val u = u0.clone()
        var singular = false
        var j = 0
        while (j < k - 1 && !singular) {
          if (a(j)(j) == 0.0) singular = true
          else {
            var i = j + 1
            while (i < k - 1) {
              val m = a(i)(j) / a(j)(j)
              var l = j
              while (l < k - 1) { a(i)(l) -= m * a(j)(l); l += 1 }
              u(i) -= m * u(j)
              i += 1
            }
          }
          j += 1
        }
        if (singular || a(k - 2)(k - 2) == 0.0) None
        else {
          val x = Array.fill(k - 1)(0.0)
          var i = k - 2
          while (i >= 0) {
            var s = u(i)
            var l = i + 1
            while (l < k - 1) { s -= a(i)(l) * x(l); l += 1 }
            x(i) = s / a(i)(i)
            i -= 1
          }
          var q = 0.0
          var g = 0
          while (g < k - 1) { q += u0(g) * x(g); g += 1 }
          Some(math.round(q * 1000000.0))
        }
      }
    val spark = df.sparkSession
    import spark.implicits._
    groups.zipWithIndex.map { case (g, i) =>
      (g, totals(i), o(i), eMicro(i), k.toLong, (k - 1).toLong, chi2)
    }.toDF("grp", "n", "o", "e_micro", "k_groups", "df", "chi2_micro")
  }

  /** X174 — Aalen-Johansen cumulative incidence under COMPETING RISKS
    * (Aalen & Johansen, Scand. J. Stat. 1978; the practice reference
    * is Putter/Fiocco/Geskus, Stat. Med. 2007): the kit so far treats
    * every event as one kind, but the moment an analysis separates
    * "churned to competitor" from "account closed" (or defect classes,
    * failure modes), 1 − KM per cause is BIASED upward — a subject
    * taken by cause A can never experience cause B, and censoring-out
    * the competitors pretends it could. The published answer is the
    * cumulative incidence function CIF_k(t) = Σ_{t_i ≤ t}
    * S(t_{i−1})·d_{k,i}/n_i with S the ALL-CAUSE Kaplan-Meier.
    *
    * Exact fixed-point contract: S runs [[kaplanMeier]]'s trajectory
    * verbatim over ALL-CAUSE deaths (`S_i = S_{i−1}·(n_i−d_i) DIV
    * n_i`), and each step's total survival DROP `S_{i−1} − S_i` is
    * apportioned among that step's causes by TELESCOPED FLOORS in
    * ascending cause order — `share_k = (drop·cumd_k) DIV d_i −
    * (drop·cumd_{k−1}) DIV d_i` — so the per-step shares sum to the
    * drop EXACTLY and therefore `Σ_k CIF_k(t) = 1e6 − S(t)` holds
    * EXACTLY at every step (the self-check identity competing-risks
    * reports are validated by, here true by construction rather than
    * approximately; in real arithmetic share_k/1e6 IS
    * S_{i−1}·d_{k,i}/n_i, the textbook estimand — stated). Every
    * operand is an exact integer; an engine replays the whole table
    * with one recursive CTE for S plus plain windows.
    *
    * Rules, each STATED: cause 0 = censored, positive integers are
    * cause ids; NEGATIVE cause or duration REFUSES; NULL
    * duration/cause drops; rows emit only for (t, cause) with
    * d_cause > 0 (the KM step convention), carrying the cause's
    * RUNNING CIF after t; a single-cause input degenerates to
    * `cif_micro = 1e6 − s_micro` row for row (the [[kaplanMeier]]
    * pin, spec-pinned). `maxSteps` bounds the collected (group, time,
    * cause) CELLS (the bounded driver-fold stance).
    *
    * Scale shape = [[kaplanMeier]]: ONE (group, time, cause)-keyed
    * collapse with map-side combine, then the [[StepTable]] fold —
    * risk sets come from the fold's own running departure count, so
    * no window is even needed. Output: `(grp, t, cause, n_risk,
    * d_cause, d_all, s_micro, cif_micro)`. */
  def aalenJohansen(df: DataFrame, group: Column, duration: Column,
      cause: Column, maxSteps: Int = 100000): DataFrame = {
    require(maxSteps >= 1 && maxSteps <= 1000000,
      s"maxSteps must be in [1, 1e6], got $maxSteps")
    val cells = df.select(
        coalesce(group.cast("string"), lit("(null)")).as("__g"),
        duration.cast("long").as("__t"), cause.cast("long").as("__k"))
      .filter(col("__t").isNotNull && col("__k").isNotNull)
      .groupBy("__g", "__t", "__k").agg(count(lit(1)).as("__c"))
    StepTable(cells, Seq("__g", "__t", "__k"), maxSteps,
      s"more than $maxSteps (group, time, cause) cells — a duration " +
        "column with key-like cardinality is raw time, not a bucketed " +
        "span; bucket upstream",
      Broken(col("__t") < 0 || col("__k") < 0,
        "aalenJohansen: negative duration or cause code — durations are " +
          "elapsed spans and causes are 0 (censored) or positive ids; " +
          "fix the construction upstream"))
      .fold("grp", "t", "cause", "n_risk", "d_cause", "d_all", "s_micro",
        "cif_micro") { (g, rows) =>
        val rs = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        var atRisk = rs.map(_._3).sum
        var s = 1000000L
        val cif = scala.collection.mutable.Map.empty[Long, Long]
        val out = Vector.newBuilder[
          (String, Long, Long, Long, Long, Long, Long, Long)]
        rs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, cellsT) =>
          val dAll = cellsT.filter(_._2 > 0).map(_._3).sum
          val depAll = cellsT.map(_._3).sum
          val n = atRisk
          if (dAll > 0) {
            val sPrev = s
            s = (BigInt(sPrev) * (n - dAll) / n).toLong
            val drop = sPrev - s
            var cum = 0L
            var prevShareCum = 0L
            cellsT.filter(_._2 > 0).sortBy(_._2).foreach { case (_, k, dk) =>
              cum += dk
              val shareCum = (BigInt(drop) * cum / dAll).toLong
              val share = shareCum - prevShareCum
              prevShareCum = shareCum
              val c = cif.getOrElse(k, 0L) + share
              cif(k) = c
              out += ((g, t, k, n, dk, dAll, s, c))
            }
          }
          atRisk -= depAll
        }
        out.result()
      }
  }
}
