package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Refuse

/** Declarative data-quality expectations — the validation pass every
  * data-preparation pipeline runs between load and transform (the reference
  * delegates this to ad-hoc SQL task bodies; here it is a first-class
  * operator). Two faces:
  *
  *  - [[report]]: corpus-level check report, ONE aggregation pass no matter
  *    how many checks — each check is a conditional count inside a single
  *    `agg`, so 50 expectations over 100 TB still read the data once.
  *    Uniqueness checks ride in the same pass as exact `count distinct`
  *    (Catalyst plans multi-distinct via Expand — still one scan).
  *  - [[quarantine]]: row-level split into (good, bad) with a `violations`
  *    array naming each failed check on every bad row — the "reject file"
  *    idiom, map-only (no shuffle) so it composes with any downstream plan.
  *
  * Check predicates are ordinary `Column` expressions and stay inside
  * whole-stage codegen; null semantics are explicit: a null predicate
  * result (SQL three-valued logic) counts as a VIOLATION for every check —
  * an unknown is never a pass.
  */
object Validate {

  /** One row-level expectation: `predicate` must hold for every row.
    * Predicates are evaluated null-safely: a null predicate result (SQL
    * three-valued logic) counts as a VIOLATION — an unknown is not a pass. */
  final case class Check(name: String, predicate: Column)

  def notNull(c: String): Check = Check(s"not_null($c)", col(c).isNotNull)

  def inRange(c: String, lo: Double, hi: Double): Check =
    Check(s"in_range($c,$lo,$hi)", col(c) >= lo && col(c) <= hi)

  def matches(c: String, regex: String): Check =
    Check(s"matches($c)", col(c).rlike(regex))

  def isIn(c: String, values: Seq[String]): Check =
    Check(s"is_in($c)", col(c).isin(values: _*))

  /** Arbitrary predicate check (cross-column rules, business invariants). */
  def expectThat(name: String, predicate: Column): Check = Check(name, predicate)

  /** Key-uniqueness expectation, evaluated corpus-wide in [[report]]'s
    * single pass (row-level quarantine cannot express it — membership in a
    * duplicate class is not a property of one row).
    *
    * `approx` trades exactness for scale: exact `count distinct` plans via
    * Expand — each exact uniqueness check re-shuffles the keys — while the
    * HLL++ sketch rides the one aggregation pass at fixed memory. The
    * approximate count wobbles ±rsd, so violations are reported net of a
    * 4σ allowance: a clean table reliably reports 0, and only duplication
    * beyond ~4·rsd of the key count is detectable. Use exact for
    * correctness gates, approx for 100 TB monitoring. */
  final case class UniqueCheck(cols: Seq[String], approx: Boolean = false,
      rsd: Double = 0.05) {
    def name: String =
      if (approx) s"unique_approx(${cols.mkString(",")})"
      else s"unique(${cols.mkString(",")})"
  }

  def unique(cols: String*): UniqueCheck = UniqueCheck(cols)

  def uniqueApprox(cols: String*): UniqueCheck = UniqueCheck(cols, approx = true)

  private def violated(c: Check): Column =
    // three-valued logic: null predicate result = violation, not a pass;
    // outer coalesce: sum over an EMPTY input is null, and an empty corpus
    // must report zero violations (pass), not a null verdict
    coalesce(sum(when(coalesce(c.predicate, lit(false)), 0L).otherwise(1L)), lit(0L))

  /** Corpus-level validation report: one output row per check —
    * (check, n_violations, n_rows, pass) — computed in a single aggregation
    * pass over the input. Deterministic output order (checks as given, then
    * uniqueness checks). */
  def report(df: DataFrame, checks: Seq[Check],
      uniques: Seq[UniqueCheck] = Nil): DataFrame = {
    require(checks.nonEmpty || uniques.nonEmpty, "no checks given")
    // internal aliases are positional: check names routinely contain dots
    // and parens, which col() would parse as nested-field paths
    val aggs: Seq[Column] =
      count(lit(1)).as("__n") +:
      (checks.zipWithIndex.map { case (c, i) => violated(c).as(s"__c_$i") } ++
        uniques.zipWithIndex.map { case (u, i) =>
          val key = struct(u.cols.map(col): _*)
          val dups =
            if (u.approx)
              greatest(lit(0L), count(lit(1)) -
                ceil(approx_count_distinct(key, u.rsd) * (1 + 4 * u.rsd)).cast("long"))
            else count(lit(1)) - countDistinct(key)
          dups.as(s"__u_$i")
        })
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = checks.zipWithIndex.map { case (c, i) => (c.name, s"__c_$i") } ++
      uniques.zipWithIndex.map { case (u, i) => (u.name, s"__u_$i") }
    val rows = explode(array(entries.map { case (name, c) =>
      struct(lit(name).as("check"), col(c).as("n_violations"))
    }: _*))
    one.select(rows.as("r"), col("__n").as("n_rows"))
      .select(col("r.check"), col("r.n_violations"), col("n_rows"),
        (col("r.n_violations") === 0L).as("pass"))
  }

  /** Row-level split: (good, bad). Bad rows carry a `violations` array
    * naming every failed check, in the order given. Map-only — both sides
    * are filters over the same scan, no shuffle. */
  def quarantine(df: DataFrame, checks: Seq[Check],
      violationsCol: String = "violations"): (DataFrame, DataFrame) = {
    require(checks.nonEmpty, "no checks given")
    require(!df.columns.contains(violationsCol),
      s"column $violationsCol already exists; pass a different violationsCol")
    val failed = array(checks.map(c =>
      when(coalesce(c.predicate, lit(false)), lit(null: String))
        .otherwise(lit(c.name))): _*)
    val names = filter(failed, _.isNotNull)
    val good = df.filter(checks.map(c => coalesce(c.predicate, lit(false)))
      .reduce(_ && _))
    val bad = df.withColumn(violationsCol, names)
      .filter(size(col(violationsCol)) > 0)
    (good, bad)
  }

  /** One-pass column profile — the "describe before you transform" half of
    * data preparation: per column, null count, distinct count and min/max
    * (rendered as strings so heterogeneous columns share one schema).
    * Like [[report]], ONE aggregation pass however many columns; exact
    * distinct counts plan via Expand, so pass `approxDistinct = true` for
    * wide tables at scale (HLL++, fixed memory, ±rsd). Output:
    * (col_name, n_rows, n_nulls, n_distinct, min_str, max_str) in the
    * given column order. */
  def profile(df: DataFrame, columns: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "no columns given")
    val missing = columns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"column(s) not in schema: ${missing.mkString(",")}")
    val aggs: Seq[Column] =
      count(lit(1)).as("__n") +: columns.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nn_$i"),
          (if (approxDistinct) approx_count_distinct(col(c))
           else countDistinct(col(c))).as(s"__nd_$i"),
          min(col(c)).cast("string").as(s"__mn_$i"),
          max(col(c)).cast("string").as(s"__mx_$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = explode(array(columns.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"), col(s"__nn_$i").as("n_nulls"),
        col(s"__nd_$i").as("n_distinct"), col(s"__mn_$i").as("min_str"),
        col(s"__mx_$i").as("max_str"))
    }: _*))
    one.select(rows.as("r"), col("__n").as("n_rows"))
      .select(col("r.col_name"), col("n_rows"), col("r.n_nulls"),
        col("r.n_distinct"), col("r.min_str"), col("r.max_str"))
  }

  /** Hard gate: throws with the failing report when any check fails —
    * the "abort the DAG before writing garbage downstream" shape. Runs
    * [[report]]'s single pass; returns the input for fluent chaining. */
  def expectAll(df: DataFrame, checks: Seq[Check],
      uniques: Seq[UniqueCheck] = Nil): DataFrame = {
    val failing = report(df, checks, uniques)
      .filter(!col("pass")).collect() // O(checks) rows — driver-side by design
    if (failing.nonEmpty) {
      val detail = failing.map(r => s"${r.getString(0)}: ${r.getLong(1)} violations")
        .mkString("; ")
      throw new IllegalStateException(s"validation failed — $detail")
    }
    df
  }

  /** Benford's-law expected first-digit shares in integer micros —
    * round(log₁₀(1 + 1/d)·1e6), stated as LITERALS so no engine ever
    * computes a log: the one place float risk is removed entirely
    * rather than bounded. */
  val BenfordMicro: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** X108 — Benford first-digit audit: does a positive amount column's
    * leading-digit distribution follow Benford's law (Newcomb 1881;
    * Benford 1938) — the classic fabricated-data / broken-feed tripwire
    * for financial amounts, populations, and any multi-magnitude
    * measurements (NOT for assigned ids or narrow-range values — the
    * caller owns applicability, as in every audit use).
    *
    * Exactness: the value must be a positive integer (scale to cents
    * upstream); its first digit is the first character of its decimal
    * string — pure string arithmetic, identical in every engine, no
    * log₁₀ boundary risk at powers of ten. Expected shares are the
    * [[BenfordMicro]] literals; observed share = `n_d·1e6 DIV n`, and
    * the deviation is exact integer |observed − expected| with the
    * group's MAX deviation riding every row (the MAD-of-deviations
    * "conformity" statistic, conservative form). Non-positive values
    * are REFUSED (they have no Benford digit — silently dropping them
    * would hide exactly the corruption being audited).
    *
    * Scale: one (group, digit) aggregation with map-side combine + one
    * group margin join; output is groups × 9 rows. Digits that never
    * occur still emit (observed 0 — an all-but-one-digit feed is the
    * strongest red flag there is). */
  def benfordAudit(df: DataFrame, groups: Seq[String],
      value: Column): DataFrame = {
    val base = Refuse.rows(df.select(groups.map(col) :+ value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull),
      (col("__v") <= 0) -> lit(
        "benfordAudit: non-positive value — Benford digits exist only for " +
          "positive amounts; filter or shift upstream (silently dropping " +
          "them would hide the corruption being audited)"))
    val digited = base.withColumn("__d",
      substring(col("__v").cast("string"), 1, 1).cast("int"))
    val counts = digited.groupBy(groups.map(col) :+ col("__d"): _*)
      .agg(count(lit(1)).as("n_obs"))
    // every digit 1..9 emits, observed or not
    val spark = df.sparkSession
    import spark.implicits._
    val digits = (1 to 9).map(d => (d, BenfordMicro(d)))
      .toDF("digit", "benford_micro")
    val grps = counts.select(groups.map(col): _*).distinct()
    val scaffold = grps.crossJoin(digits)
    // null-safe group match: a NULL group key is a real group (X88)
    val cRen = counts.select(groups.zipWithIndex.map { case (g, i) =>
      col(g).as(s"__g$i") } :+ col("__d") :+ col("n_obs"): _*)
    val cond = groups.zipWithIndex
      .map { case (g, i) => scaffold(g) <=> cRen(s"__g$i") }
      .foldLeft(scaffold("digit") === cRen("__d"))(_ && _)
    val full = scaffold.join(cRen, cond, "left")
      .drop(groups.indices.map(i => s"__g$i") :+ "__d": _*)
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*)
    full
      .withColumn("n", sum(col("n_obs")).over(w))
      .withColumn("share_micro", expr("n_obs * 1000000 DIV n"))
      .withColumn("dev_micro", abs(col("share_micro") - col("benford_micro")))
      .withColumn("max_dev_micro", max(col("dev_micro")).over(w))
      .select(groups.map(col) :+ col("digit") :+ col("n_obs") :+ col("n") :+
        col("share_micro") :+ col("benford_micro") :+ col("dev_micro") :+
        col("max_dev_micro"): _*)
  }
}
