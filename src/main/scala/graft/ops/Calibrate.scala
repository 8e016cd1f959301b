package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Refuse

/** X77 — isotonic score calibration (pool-adjacent-violators): turn a
  * ranking score into a calibrated probability by fitting the best
  * monotone non-decreasing step function from score to P(label = 1) —
  * the standard calibration layer behind every model-based quality gate
  * (Zadrozny & Elkan KDD'02 popularized isotonic over Platt scaling for
  * exactly the tree/heuristic scores curation pipelines use, because it
  * assumes no sigmoid shape). A gate thresholds calibrated probabilities
  * ("keep docs with ≥ 80% chance of being good"), not raw scores whose
  * scale drifts between model versions.
  *
  * Arithmetic is ZERO-FLOAT end to end: per distinct score the corpus
  * contributes (n, positives); PAV pools violate-adjacent blocks by
  * comparing block means as cross-multiplied integers (s₁·c₂ ≥ s₂·c₁ —
  * exact, no division), and the released probability is the pooled
  * block's floor micros (s·1e6 DIV c). Floor commutes with min/max
  * (monotone), so the classical minimax characterization
  * fit(i) = max_{j≤i} min_{k≥i} mean(labels over blocks j..k) holds in
  * floored micros verbatim — which is exactly how the DuckDB oracle and
  * the spec's independent replica rebuild the whole fit.
  *
  * Scale shape: ONE map-side-combinable aggregation keyed on the score
  * touches the corpus (distinct scores cross the shuffle, not rows);
  * the PAV loop runs on the ≤ `maxBuckets` distinct-score rows
  * DRIVER-side — linear time with the classic block stack. Scores with
  * unbounded real domains must be bucketed upstream (the [[Privacy
  * .dpQuantiles]] candidate stance: a calibration over billions of
  * distinct raw doubles is statistically meaningless anyway — each
  * bucket needs labeled mass); the bounded collect REFUSES past
  * `maxBuckets` rather than silently OOMing the driver, and a
  * cross-multiplication overflow guard refuses corpora past ~3e9
  * labeled rows with "fit on a sample — calibration needs thousands of
  * labels, not billions".
  *
  * Output: one row per distinct score — (score, n, pos, cal_micro),
  * cal_micro monotone non-decreasing in score. Applying the fit to new
  * data is a broadcast step-function join (largest fitted score ≤ x —
  * an as-of join, [[graft.ops.TemporalJoins]]'s shape on the score
  * axis); unseen scores below the smallest fitted one have no defined
  * calibration, a policy decision left to the caller. */
object Calibrate {

  def isotonicCalibrate(df: DataFrame, score: Column, label: Column,
      maxBuckets: Int = 100000): DataFrame = {
    require(maxBuckets >= 1, s"maxBuckets must be positive, got $maxBuckets")
    // the sorted bucket collect below reads every row, so the label
    // refusal fires in it
    val base = Refuse.rows(df.select(score.as("score"), label.cast("long").as("__l"))
      .filter(col("score").isNotNull && col("__l").isNotNull),
      !col("__l").isin(0L, 1L) -> concat(
        lit("isotonicCalibrate labels must be 0/1, found "), col("__l").cast("string")))
    val g = base.groupBy("score")
      .agg(count(lit(1)).as("n"), sum(col("__l")).as("pos"))
    val rows = g.orderBy("score").limit(maxBuckets + 1).collect()
    require(rows.nonEmpty, "isotonicCalibrate: no labeled rows")
    require(rows.length <= maxBuckets,
      s"more than $maxBuckets distinct scores — bucket the score upstream " +
        "(calibration needs labeled mass per bucket; a raw-double domain " +
        "gives one label per bucket and a vacuous fit)")
    val totalN = rows.iterator.map(_.getLong(1)).sum
    require(totalN <= 3000000000L,
      s"$totalN labeled rows would overflow the exact cross-multiplied " +
        "mean comparison — fit on a sample: calibration needs thousands " +
        "of labels, not billions")

    // PAV block stack: pool while the previous block's mean is >= the
    // current's (exact integer cross-multiplication; pooling equal means
    // is canonical and keeps the fit deterministic)
    final case class Block(c: Long, s: Long, members: Int)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    rows.foreach { r =>
      var cur = Block(r.getLong(1), r.getLong(2), 1)
      while (stack.nonEmpty &&
          stack.last.s * cur.c >= cur.s * stack.last.c) {
        val prev = stack.remove(stack.length - 1)
        cur = Block(prev.c + cur.c, prev.s + cur.s, prev.members + cur.members)
      }
      stack += cur
    }
    val cal = stack.iterator.flatMap(b =>
      Iterator.fill(b.members)(b.s * 1000000L / b.c)).toArray

    val spark = df.sparkSession
    val out = rows.zip(cal).map { case (r, c) =>
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2), c) }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(g.schema.fields :+
        StructField("cal_micro", LongType, nullable = false)))
  }

  /** X83 — split-conformal prediction intervals + coverage audit (Vovk's
    * inductive conformal; Lei et al. JASA'18 is the split form every
    * production system ships): wrap ANY point predictor in an interval
    * `ŷ ± q̂` whose marginal coverage is GUARANTEED ≥ 1−α under
    * exchangeability alone — no model assumptions, which is why it is the
    * standard honesty layer over the ad-hoc regressors curation pipelines
    * use ([[isotonicCalibrate]] calibrates probabilities; this calibrates
    * ERROR BARS). q̂ is the ⌈(n+1)(1−α)⌉-th smallest absolute residual
    * |y − ŷ| on a held-out calibration slice; the audit then measures
    * realized coverage on a disjoint test slice — the number a deployment
    * alarms on when drift breaks exchangeability.
    *
    * All arithmetic is integer micros: residuals are exact Long
    * differences, the rank k = ⌈(n+1)(1e6−α)/1e6⌉ is one integer ceiling
    * division, q̂ is an order STATISTIC (a value in the data — no
    * interpolation to diverge on), and coverage is `covered·1e6 DIV n`.
    * Any engine replays the whole construction bit-for-bit.
    *
    * Scale shape: the calibration slice pays one keyed-free aggregation
    * (count) and one executor-side window rank for the order statistic
    * (the [[Ops.exactPercentiles]] construction — a spill-backed sort,
    * nothing rank-sized through the driver; calibration sets are SAMPLES
    * by design, the q216 eval-slice stance, and `maxCal` refuses the
    * degenerate "calibrate on the corpus" call). The test slice is
    * one map-only residual comparison + a partial-aggregated group
    * rollup — corpus-sized test sets are fine. α too small for the
    * calibration size is REFUSED (k > n means the honest interval is
    * infinite — report that, don't fake a finite q̂).
    *
    * Output: one row per `groups` value in the test slice —
    * `(groups…, n_cal, k_rank, qhat_micro, n_test, covered, cov_micro)`.
    * NULL pred/actual rows drop from both slices (no residual defined). */
  def splitConformal(cal: DataFrame, test: DataFrame, predMicro: Column,
      actualMicro: Column, alphaMicro: Long, groups: Seq[String] = Nil,
      maxCal: Long = 10000000L): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    require(maxCal >= 1, s"maxCal must be positive, got $maxCal")
    val score = abs(actualMicro.cast("long") - predMicro.cast("long"))
    val calScores = cal.select(score.as("__s")).filter(col("__s").isNotNull)
    val n = calScores.count()
    require(n >= 1, "splitConformal: empty calibration slice")
    require(n <= maxCal,
      s"calibration slice has $n rows (> $maxCal) — calibrate on a " +
        "sample: the guarantee needs exchangeability, not volume")
    val k = ((n + 1) * (1000000L - alphaMicro) + 999999L) / 1000000L
    require(k <= n,
      s"alpha=${alphaMicro}µ needs rank $k of $n calibration residuals — " +
        "the honest interval is infinite; raise alpha or calibrate on more rows")
    // q̂ = the k-th smallest residual, picked by the exactPercentiles
    // window-rank construction: one executor-side (spill-backed) sort and
    // a 1-row aggregate — NOT orderBy.limit(k), whose TakeOrdered would
    // materialize all k residuals (up to maxCal) on the driver
    val wq = org.apache.spark.sql.expressions.Window.orderBy(col("__s"))
    val qhat = calScores.withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") === k)
      .agg(max(col("__s"))).collect()(0).getLong(0)
    test.select(groups.map(col) :+ score.as("__s"): _*)
      .filter(col("__s").isNotNull)
      .groupBy(groups.map(col): _*)
      .agg(
        lit(n).as("n_cal"), lit(k).as("k_rank"), lit(qhat).as("qhat_micro"),
        count(lit(1)).as("n_test"),
        sum(when(col("__s") <= qhat, 1L).otherwise(0L)).as("covered"))
      .withColumn("cov_micro", expr("covered * 1000000 DIV n_test"))
  }

  /** X51 — cross-source quantile score calibration, exact face (promoted
    * from its query-inline q175 form): raw quality scores are
    * distribution-relative (a 0.5 from a clean source ≠ a 0.5 from a
    * noisy one), so map each row's within-source percent_rank — ties
    * share a rank, so equal scores calibrate equally, the property an
    * id tie-break would silently break — onto the score at that
    * percentile in the designated REFERENCE source, step-function
    * interpolation (largest reference percentile ≤ the row's). After
    * calibration one global threshold means the same thing everywhere.
    *
    * Shape: ONE source-keyed window (per-source sorts — the X51
    * spill-backed bound this whole codebase cites) over a frame that
    * feeds two consumers (the reference aggregation and the calibration
    * side), so it materializes once — `checkpointDir` selects reliable
    * vs local blocks, the X32/X97 knob. The reference rows collapse to
    * one broadcast [[stepIndex]] probed map-only at O(n_ref/buckets + 1)
    * per row — NOT a per-row scan of the whole reference array, which is
    * O(rows·n_ref) and measured 30.6× at 10× volume before the SCALING.md
    * study caught it; `maxRef` REFUSES a corpus-sized reference ("the
    * exact index is the small-ref face — use
    * [[quantileCalibrateSketch]]"). NULL scores drop (Spark
    * and DuckDB disagree on NULL ordering inside a rank window — the
    * cross-engine stance is to refuse to rank the unrankable).
    *
    * Output: `df`'s surviving columns + `pctCol` (the within-source
    * percent rank) + `outCol` (the calibrated score, typed as `score`).
    * Cite: reference has no calibration operator — this serves its
    * quality-normalization role Spark-first (SURVEY.md X51). */
  /** Bucketed broadcast step-function index over reference steps: from a
    * frame of `(p, qr)` step rows (p ascending-unique after the internal
    * distinct — equal p implies equal qr under the percent_rank tie
    * contract), build ONE row holding `map<bucket → sorted entries
    * (p, qr, nq)>` where bucket b's entries are the steps starting in
    * [b/buckets, (b+1)/buckets) plus the CARRY-IN (the last step before
    * the bucket), and `nq` is the NEXT step's qr (NULL at the top).
    * [[stepLookup]] then answers "value at the largest p ≤ x" by probing
    * ONE bucket's few-entry array — O(n_ref/buckets + 1) per row.
    *
    * This replaces the r13-shape probe that filtered the ENTIRE
    * reference array per row: O(rows·n_ref) — measured 30.6× at 10×
    * volume in the SCALING.md study (quadratic in disguise, exactly the
    * failure mode the study exists to catch). Index size is
    * buckets + 2·n_steps entries — broadcast-bounded by [[quantileCalibrate]]'s
    * maxRef refusal. */
  def stepIndex(steps: DataFrame, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("p")
    // the global window sort is over the STEP table (maxRef-bounded),
    // never the corpus — the one place a single-partition sort is fine
    val spans = steps.select(col("p"), col("qr")).distinct()
      .withColumn("nq", lead(col("qr"), 1).over(wOrd))
      .withColumn("__b0", floor(col("p") * buckets).cast("long"))
      .withColumn("__b1", coalesce(
        floor(lead(col("p"), 1).over(wOrd) * buckets).cast("long"),
        lit(buckets.toLong)))
      .select(col("p"), col("qr"), col("nq"),
        explode(sequence(col("__b0"), col("__b1"))).as("__b"))
    // DENSE positional outer array, not a map: Spark's map element_at is
    // a LINEAR key scan (ArrayBasedMapData), which would put the whole
    // index back on the per-row critical path; an array is O(1) indexed.
    // Density holds by construction — every bucket 0..buckets gets at
    // least its carry-in — so slot i IS bucket i and the sorted outer
    // collect is positional.
    spans.groupBy("__b")
      .agg(sort_array(collect_list(struct(col("p"), col("qr"), col("nq"))))
        .as("__arr"))
      .agg(sort_array(collect_list(struct(col("__b"), col("__arr"))))
        .as("__qc_idx"))
  }

  /** The step entry at the largest step p ≤ `x` from a [[stepIndex]]
    * column (same `buckets` as the build — the CMS shared-identity
    * contract): a struct `(p, qr, nq)`, NULL when x precedes every step.
    * `.getField("qr")` is the step value, `.getField("nq")` the next
    * step's (the two sides of an interval probe). */
  def stepLookup(index: Column, x: Column, buckets: Int): Column = {
    // a NEGATIVE slot must be refused explicitly: element_at's negative
    // indices count from the array END (x = −0.1 would silently probe a
    // far bucket), and slot 0 is invalid SQL — both mean "x precedes
    // every step" here, which is NULL, while a slot past the top (x > 1)
    // is try_element_at's tolerated out-of-bounds NULL
    val slot = (floor(x * buckets) + 1).cast("int")
    element_at(filter(
      when(slot >= 1, try_element_at(index, slot)).getField("__arr"),
      e => e.getField("p") <= x), -1)
  }

  def quantileCalibrate(df: DataFrame, source: Column, score: Column,
      refSource: String, pctCol: String = "pct", outCol: String = "q_cal",
      maxRef: Long = 1000000L,
      checkpointDir: Option[String] = None,
      smallRef: Long = 256L): DataFrame = {
    require(maxRef >= 1, s"maxRef must be positive, got $maxRef")
    require(smallRef >= 0, s"smallRef must be >= 0, got $smallRef")
    val reserved = Seq(pctCol, outCol, "__qc_idx", "__qc_arr")
      .filter(df.columns.contains)
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} reserved by quantileCalibrate")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(source).orderBy(score)
    val pct = graft.core.Checkpointing.truncate(
      df.filter(score.isNotNull).withColumn(pctCol, percent_rank().over(w)),
      eager = true, reliableDir = checkpointDir)
    val refRows = pct.filter(source === refSource)
    val nRef = refRows.count() // a scan of the materialized frame, not the plan
    require(nRef >= 1,
      s"quantileCalibrate: reference source '$refSource' has no scored rows")
    require(nRef <= maxRef,
      s"reference source has $nRef rows (> $maxRef) — the exact broadcast " +
        "index is the small-reference face; use quantileCalibrateSketch")
    if (nRef <= smallRef) {
      // SMALL-reference fast path: below ~256 steps the bucketed index's
      // fixed build stages (window + explode + two aggregations) cost
      // more wall-clock than they save — a direct sorted-array probe is
      // O(n_ref) per row but n_ref is tiny, and the answer is the SAME
      // "largest step p ≤ x" entry bit-for-bit (spec-pinned against the
      // index path). This recovers the pre-index small-case latency the
      // r14 stepIndex fix deliberately traded away (SCALING.md q175
      // note); the index path stays the default above the crossover.
      val arr = refRows.select(col(pctCol).as("p"), score.as("qr"))
        .distinct()
        .agg(sort_array(collect_list(struct(col("p"), col("qr"))))
          .as("__qc_arr"))
      pct.crossJoin(broadcast(arr))
        .withColumn(outCol,
          element_at(filter(col("__qc_arr"),
            e => e.getField("p") <= col(pctCol)), -1).getField("qr"))
        .drop("__qc_arr")
    } else {
      val ref = stepIndex(
        refRows.select(col(pctCol).as("p"), score.as("qr")))
      pct.crossJoin(broadcast(ref))
        .withColumn(outCol,
          stepLookup(col("__qc_idx"), col(pctCol), 4096).getField("qr"))
        .drop("__qc_idx")
    }
  }

  /** X51 — the KLL sketch face for corpus-sized references (the 100 TB
    * path SURVEY's X51 row documents): instead of collecting every
    * reference row into the broadcast array, sketch the reference
    * source's scores ONCE (X27's mergeable KLL — a partial aggregation
    * whose shuffle carries k-sized buffers, never values), evaluate the
    * sketch at `grid`+1 evenly spaced ranks, and broadcast THAT bounded
    * array for the same map-only step-function probe. Rank error is the
    * KLL bound (~1.65% at k=200) plus the 1/grid resolution — and the
    * estimate is always a VALUE the sketch retained from the reference,
    * the nearest-rank discipline. Scores must be integral micros (the
    * BIGINT sketch domain — the X92-vs-X27 trade stated there).
    *
    * KLL compaction is RANDOMIZED: gates on this face must be
    * bound-flags against the exact face (the q109/q252 contract), never
    * value-equality. If `pctCol` already exists in `df` it is REUSED —
    * the composition path where the exact face (ground truth) and this
    * face share one window — else it is computed here; NULL scores drop
    * in that case (the exact face's stance). Output: `df`'s columns +
    * `pctCol` + `outCol` (BIGINT). */
  def quantileCalibrateSketch(df: DataFrame, source: Column, score: Column,
      refSource: String, grid: Int = 200, k: Int = 200,
      pctCol: String = "pct", outCol: String = "q_cal_est"): DataFrame = {
    require(grid >= 2 && grid <= 2000,
      s"grid must be in [2, 2000], got $grid: the sketch's rank argument " +
        "must be foldable, so the grid unrolls into grid+1 expressions")
    require(k >= 8, s"k must be >= 8, got $k")
    val reserved = Seq(outCol, "__qc_idx").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} reserved by quantileCalibrateSketch")
    val refBase = df.filter(source === refSource && score.isNotNull)
    require(refBase.limit(1).count() == 1,
      s"quantileCalibrateSketch: reference source '$refSource' has no scored rows")
    val withPct = if (df.columns.contains(pctCol)) df
    else df.filter(score.isNotNull).withColumn(pctCol, percent_rank().over(
      org.apache.spark.sql.expressions.Window.partitionBy(source).orderBy(score)))
    val ref = stepIndex(refBase
      .agg(call_function("kll_sketch_agg_bigint", score.cast("long"), lit(k))
        .as("__sk"))
      .select(explode(array((0 to grid).map { i =>
        val p = i.toDouble / grid
        struct(lit(p).as("p"),
          call_function("kll_sketch_get_quantile_bigint", col("__sk"),
            lit(p)).as("qr"))
      }: _*)).as("__e"))
      .select(col("__e.p").as("p"), col("__e.qr").as("qr")))
    withPct.crossJoin(broadcast(ref))
      .withColumn(outCol,
        stepLookup(col("__qc_idx"), col(pctCol), 4096).getField("qr"))
      .drop("__qc_idx")
  }

  /** X165 — calibration report: reliability diagram + Brier score
    * (Brier, MWR 1950; reliability binning per Murphy 1973 — the audit
    * every probabilistic readout ships next to its ROC): X77's
    * isotonic fit MAKES a score calibrated; this MEASURES whether a
    * probability column IS — per fixed-width probability bin, how far
    * does the observed positive rate sit from the mean stated
    * probability (the reliability diagram's points), and what is the
    * overall Brier score (mean squared probability error — the proper
    * scoring rule that punishes confident wrongness). The gate
    * question is "can I trust 0.8 to mean 80%?" — a model can have
    * perfect AUC and be wildly miscalibrated; this is the number that
    * says so.
    *
    * Exactness: probabilities are INTEGER MICROS in [0, 1e6] (REFUSED
    * outside — a "probability" of 1.2 is a pipeline bug); bins are
    * `min(k−1, p·k DIV 1e6)` (fixed-width, the standard reliability
    * binning; only OBSERVED bins emit — an empty bin has no point on
    * the diagram); per bin `mean_pred_micro = Σp DIV n` and
    * `obs_rate_micro = Σy·1e6 DIV n` are single floors on non-negative
    * operands; `gap_micro = obs − mean_pred` on the FLOORED values
    * (stated); the family Brier is the exact rational
    * `Σ(p − y·1e6)² DIV (N·1e6)` in micros — every squared term is an
    * exact Long ≤ 1e12 and the sum rides DECIMAL(38,0) (the X151
    * stance), repeated per bin row for a one-frame readout.
    *
    * Rules, each STATED: label must be exactly 0/1 or boolean
    * (REFUSED); NULL probability or label drops; bins ∈ [2, 1000];
    * N > 1e12 per family REFUSES (the Σ(p−y)² DECIMAL budget).
    *
    * Scale shape: ONE (family, bin) keyed aggregation with map-side
    * combine + one family rollup + one broadcast-sized join back —
    * no windows, no driver state. Output: one row per observed
    * (family, bin): `(families…, bin, n, mean_pred_micro,
    * obs_rate_micro, gap_micro, brier_micro)`. */
  def calibrationReport(df: DataFrame, families: Seq[String],
      probMicro: Column, label: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"bins must be in [2, 1000], got $bins")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val fam = families.map(col)
    val base = df.select(fam :+ probMicro.cast("long").as("__p") :+
        label.cast("long").as("__y") :+
        label.cast("double").as("__yd"): _*)
      .filter(col("__p").isNotNull && col("__y").isNotNull)
    // the label half of the refusal reads the DOUBLE cast: fractional
    // labels REFUSE instead of truncating past it (ADVICE r17)
    val binned = Refuse.rows(base,
        (col("__p") < 0 || col("__p") > 1000000L ||
          (col("__yd") =!= 0d && col("__yd") =!= 1d)) -> lit(
          "calibrationReport: a probability outside [0, 1e6] micros or a " +
            "non-0/1 label — a malformed probability is a pipeline bug; " +
            "fix upstream"))
      .withColumn("__bin",
        least(lit(bins - 1).cast("long"),
          expr(s"__p * $bins DIV 1000000")))
      .groupBy(fam :+ col("__bin"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__p").cast(d)).as("__sp"),
        sum(col("__y")).as("__sy"),
        sum(((col("__p") - col("__y") * 1000000L).cast(d) *
          (col("__p") - col("__y") * 1000000L))).as("__sq"))
      .persist()
    try {
      val tot = Refuse.rows(binned.groupBy(fam: _*)
        .agg(sum(col("n")).as("__N"), sum(col("__sq")).as("__SQ")),
        (col("__N") > 1000000000000L) -> lit(
          "calibrationReport: a family exceeds 1e12 rows — the squared-" +
            "error DECIMAL(38) budget"))
      binned.join(
          tot.withColumn("brier_micro", expr(
            """CAST((__SQ - __SQ % (CAST(__N AS DECIMAL(38,0)) * 1000000))
              | / (CAST(__N AS DECIMAL(38,0)) * 1000000)
              | AS BIGINT)""".stripMargin))
            .select(fam :+ col("brier_micro"): _*),
          families.toSeq)
        .withColumn("mean_pred_micro", expr(
          """CAST((__sp - __sp % CAST(n AS DECIMAL(38,0)))
            | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .withColumn("obs_rate_micro", expr(
          """CAST((__sy * CAST(1000000 AS DECIMAL(38,0))
            |  - (__sy * CAST(1000000 AS DECIMAL(38,0))) % n)
            | / n AS BIGINT)""".stripMargin))
        .withColumn("gap_micro",
          col("obs_rate_micro") - col("mean_pred_micro"))
        .select(fam :+ col("__bin").as("bin") :+ col("n") :+
          col("mean_pred_micro") :+ col("obs_rate_micro") :+
          col("gap_micro") :+ col("brier_micro"): _*)
        .localCheckpoint(true)
    } finally binned.unpersist()
  }
}
