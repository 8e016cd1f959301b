package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Refuse, StepTable}
import graft.core.StepTable.{Broken, Duplicate, Gap}

/** Time-series densification (SURVEY.md §2.7 adjunct): aggregate per
  * (key, time bucket) and emit a row for EVERY bucket in each key's
  * [min, max] range — empty buckets included. Dashboards, rate alerts and
  * forecasting all break on sparse aggregates ("no row" ≠ "zero events");
  * a plain groupBy can't distinguish the two.
  */
object TimeSeries {

  /** Gap-filled per-(keys, bucket) aggregates.
    *
    *   - `step`: bucket width + grid pitch (e.g. "1 hour") — buckets are
    *     epoch-aligned tumbling windows (`window(ts, step).start`);
    *   - `aggs`: (name, aggregate expression) computed per (keys, bucket);
    *   - `fill`: per-output-column literal for empty buckets (unlisted
    *     columns stay NULL there — "unknown", not "zero"; counts usually
    *     fill 0, gauges usually stay null).
    *
    * Plan shape at scale: one partial-combinable aggregation, a keys-sized
    * range aggregate, a `sequence`-explode of the grid (output-sized — the
    * densified table IS the product), and one keyed left join. No window
    * functions, no per-key single task, no driver materialization. Keys
    * with a single bucket yield that bucket. Rows with NULL ts are ignored
    * (no defined bucket); a NULL key is a valid group and gap-fills like
    * any other. */
  def gapFill(events: DataFrame, keys: Seq[String], tsCol: String,
      step: String, aggs: Seq[(String, Column)],
      fill: Map[String, Column] = Map.empty): DataFrame = {
    require(aggs.nonEmpty, "gapFill needs at least one aggregate")
    val reserved = Seq("bucket", "__lo", "__hi")
      .filter(r => keys.contains(r) || aggs.exists(_._1 == r))
    require(reserved.isEmpty,
      s"${reserved.mkString(", ")} reserved by gapFill; rename first")
    val clashes = aggs.map(_._1).filter(keys.contains)
    require(clashes.isEmpty,
      s"aggregate name(s) collide with key column(s): ${clashes.mkString(", ")}")
    fill.keys.foreach(k => require(aggs.exists(_._1 == k),
      s"fill column '$k' is not an aggregate output"))
    val bucket = window(col(tsCol), step).getField("start")
    val agged = events
      .filter(col(tsCol).isNotNull)
      .groupBy((keys.map(col) :+ bucket.as("bucket")): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val range = agged.groupBy(keys.map(col): _*)
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
    val grid = range
      .select((keys.map(col) :+
        explode(sequence(col("__lo"), col("__hi"), expr(s"INTERVAL $step")))
          .as("bucket")): _*)
    // null-safe key equality: a NULL key is a real group ("events with no
    // type") and must match its own aggregate rows back — a plain using-
    // join would leave every one of its buckets empty
    val cond = keys.map(k => col(s"g.$k") <=> col(s"a.$k"))
      .foldLeft(col("g.bucket") === col("a.bucket"))(_ && _)
    val joined = grid.alias("g").join(agged.alias("a"), cond, "left")
      .select((keys.map(k => col(s"g.$k")) :+ col("g.bucket")) ++
        aggs.map { case (n, _) => col(s"a.$n") }: _*)
    fill.foldLeft(joined) { case (df, (name, lit_)) =>
      df.withColumn(name, coalesce(col(name), lit_))
    }
  }

  /** The shared (keys, ts, tieBreak) window contract of [[locf]],
    * [[rollingOutliers]] and [[assembleSessions]]: partitioned on the
    * keys, ordered by event time with the caller's tie-break — which of
    * two same-instant rows is "first" must never depend on partitioning,
    * so the tie-break is part of the contract, defined ONCE here. */
  private def keyedWindow(keys: Seq[String], tsCol: String,
      tieBreak: Seq[String]): org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(col): _*)

  /** X55 — last-observation-carried-forward imputation (LOCF): every NULL
    * in `valueCols` takes the key's most recent non-null value in event
    * order — the standard sensor/gauge repair ([[gapFill]] makes missing
    * ROWS explicit; this fills missing VALUES). Leading nulls (no prior
    * observation) stay null — LOCF never invents data.
    *
    * Scale: all value columns ride ONE keyed window (single shuffle on
    * `keys`, running frames evaluate incrementally per partition); no
    * self-join, no driver state. `tieBreak` columns order rows with equal
    * timestamps — REQUIRED for determinism whenever (key, ts) can repeat,
    * because which of two same-instant rows is "last" would otherwise
    * depend on partitioning. */
  def locf(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCols: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    require(valueCols.nonEmpty, "locf needs at least one value column")
    val missing = (keys ++ (tsCol +: valueCols) ++ tieBreak)
      .filterNot(df.columns.contains)
    require(missing.isEmpty, s"column(s) not in schema: ${missing.mkString(",")}")
    val w = keyedWindow(keys, tsCol, tieBreak).rowsBetween(Long.MinValue, 0)
    valueCols.foldLeft(df)((acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** X56 — rolling anomaly flag: is this value a k-sigma outlier against
    * its key's TRAILING `lookback` observations (current row excluded —
    * a spike must not mask itself by inflating its own baseline)? The
    * per-key rolling face of [[Ops.flagOutliers]]'s global z-score, for
    * rate monitors and sensor streams where the baseline drifts and a
    * corpus-wide mean is meaningless.
    *
    * Exact integer arithmetic (the X17 identity, windowed): with trailing
    * sums n, S = Σx, Q = Σx² over the frame, flag ⇔ (n·x − S)² >
    * k²·(n·Q − S²) — no float mean/stddev, so boundary decisions are
    * bit-identical across engines and partitionings. Squares of windowed
    * sums overflow longs, so the comparison runs in DECIMAL(38,0) —
    * exact WITHIN ITS RANGE: with |value| ≤ 10¹⁵ and lookback ≤ 1000,
    * every intermediate (|n·x−S| ≤ 2·n·max|x| ⇒ lhs ≤ 4·10³⁶; k²·n·Q ≤
    * 9·10³⁶ at k ≤ 3) stays under 10³⁸−1. BEYOND those bounds Spark's
    * decimal arithmetic overflows to NULL (or throws under ANSI mode) —
    * the flag degrades to "unknown", never to a wrong boolean, but
    * callers with larger magnitudes must downscale first. `value` must
    * be integral (scale fixed-point doubles to cents/micro-units
    * upstream — the X17 convention — choosing the unit WITH these bounds
    * in mind).
    * Rows with fewer than `minObs` trailing observations flag NULL
    * ("unknown", not "normal"); NULL values neither flag nor enter any
    * frame sum. ONE keyed window = one shuffle; `tieBreak` as in [[locf]]. */
  def rollingOutliers(df: DataFrame, keys: Seq[String], tsCol: String,
      value: Column, lookback: Int, k: Int, minObs: Int = 8,
      tieBreak: Seq[String] = Nil, outCol: String = "is_outlier"): DataFrame = {
    require(lookback >= 2, s"lookback must be >= 2, got $lookback")
    require(k > 0, s"k must be positive, got $k")
    require(minObs >= 2 && minObs <= lookback,
      s"minObs must be in [2, lookback], got $minObs")
    val reserved = Seq("__n", "__s", "__q2").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"${reserved.mkString(", ")} reserved by rollingOutliers")
    import org.apache.spark.sql.types.DecimalType
    val w = keyedWindow(keys, tsCol, tieBreak).rowsBetween(-lookback, -1)
    val x = value.cast(DecimalType(38, 0))
    val withSums = df
      .withColumn("__n", count(value).over(w).cast(DecimalType(38, 0)))
      .withColumn("__s", sum(x).over(w))
      .withColumn("__q2", sum((x * x).cast(DecimalType(38, 0))).over(w))
    val lhs = (col("__n") * x - col("__s")) * (col("__n") * x - col("__s"))
    val rhs = lit(k.toLong * k) * (col("__n") * col("__q2") - col("__s") * col("__s"))
    withSums
      .withColumn(outCol,
        when(value.isNull || col("__n") < minObs, lit(null).cast("boolean"))
          .otherwise(lhs > rhs))
      .drop("__n", "__s", "__q2")
  }

  /** X57 — session transcript assembly: turn an event stream into ordered
    * per-session SEQUENCES — the behavioral-corpus construction step
    * (chat-log assembly, clickstream-to-sequence, tool-use traces) that
    * sessionization alone (counts per session) doesn't give. Sessions
    * split where the gap to the previous event strictly EXCEEDS
    * `gapSeconds` — an event landing exactly at the boundary still joins
    * the session, matching `session_window`'s merge-of-touching-sessions
    * semantics so the streaming face
    * ([[graft.streaming.Streams.sessionTranscripts]]) and this one
    * implement ONE contract at the boundary, not two that agree only off
    * it. Compared in exact epoch MICROseconds (a truncated-seconds
    * compare would disagree with an interval compare on sub-second
    * gaps); within a session, `token` values join in (ts, tieBreak)
    * order.
    *
    * Output per (keys, session): `session_start`, `n_events`,
    * `transcript` (tokens joined by `sep`).
    *
    * Scale: session derivation is two window functions (lag + running
    * sum) on ONE keyed window — a single shuffle on `keys`; assembly is
    * one partial-aggregated groupBy whose state is the session's own
    * token list (bounded by session length — sessions are short by
    * construction; a gap-free adversarial key degrades to one group, the
    * same bound any sessionizer has). Ordering inside the transcript is
    * via sort_array over (ts, tieBreak, token) structs — deterministic
    * under any partitioning; `tieBreak` is REQUIRED for same-instant
    * events for the [[locf]] reason. NULL-ts events have no position in
    * any session and are dropped; NULL tokens keep their session slot as
    * an empty string (n_events always equals the transcript's token
    * count — an event with no signal is still an event). */
  def assembleSessions(events: DataFrame, keys: Seq[String], tsCol: String,
      gapSeconds: Long, token: Column, tieBreak: Seq[String] = Nil,
      sep: String = " > "): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    require(keys.nonEmpty, "assembleSessions needs at least one key column")
    val reserved = Seq("__us", "__new", "__sid").filter(events.columns.contains)
    require(reserved.isEmpty,
      s"${reserved.mkString(", ")} reserved by assembleSessions")
    val w = keyedWindow(keys, tsCol, tieBreak)
    val marked = events
      .filter(col(tsCol).isNotNull)
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__new",
        // STRICT compare: exactly-gap events stay in the session — the
        // session_window boundary convention (see the scaladoc)
        when(col("__us") - lag(col("__us"), 1).over(w) >
          gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("__sid",
        sum(col("__new")).over(w.rowsBetween(Long.MinValue, 0)))
    marked
      .groupBy((keys.map(col) :+ col("__sid")): _*)
      .agg(
        min(col(tsCol)).as("session_start"),
        count(lit(1)).as("n_events"),
        transcriptAgg(tsCol, tieBreak, token, sep))
      .drop("__sid")
  }

  /** X73 — windowed funnel (the ClickHouse `windowFunnel` / every product-
    * analytics store's conversion primitive): per user, the deepest prefix
    * of `steps` completed as a strictly-time-ordered event chain whose
    * WHOLE span fits within `windowSec` of the chain's first event.
    * Returns one row per user that started the funnel: (user, level),
    * level in 1..steps.size.
    *
    * Semantics, pinned precisely because every store differs:
    *  - a chain may start at ANY step-1 event (not just the user's
    *    earliest) — the reported level is the max over starts, matching
    *    windowFunnel; for a FIXED start, advancing greedily to the
    *    earliest qualifying next event is provably optimal (exchange
    *    argument: an earlier choice never excludes a later chain), so
    *    per-start greedy + max-over-starts IS the exact maximum;
    *  - consecutive steps need strictly increasing timestamps
    *    (simultaneous events don't chain);
    *  - repeated step types are allowed (view → view counts two distinct
    *    view events);
    *  - NULL users/timestamps drop (no defined chain).
    *
    * Plan shape at scale: step k is one user-keyed join between the
    * surviving chains (one row per (user, start) — monotonically
    * shrinking) and the step-k events, followed by a (user, start)-keyed
    * min — no window functions, no per-user sort, no driver state. Every
    * shuffle is keyed on the user; per-user fan-out is bounded by that
    * user's step-1 event count (power-user skew is the X17/salting
    * caveat, as for any user-keyed analytics). The level table then folds
    * with one keyed max. */
  def funnelLevels(events: DataFrame, user: Column, ts: Column,
      evType: Column, steps: Seq[String], windowSec: Long): DataFrame = {
    require(steps.size >= 2, s"a funnel needs at least 2 steps, got $steps")
    require(windowSec >= 1, s"windowSec must be positive, got $windowSec")
    val ev = events.select(user.as("__u"), ts.as("__ts"), evType.as("__et"))
      .filter(col("__u").isNotNull && col("__ts").isNotNull &&
        col("__et").isin(steps.distinct: _*))
    var chains = ev.filter(col("__et") === steps.head)
      .select(col("__u"), col("__ts").as("__t1"), col("__ts").as("__tk"))
    val deadline = col("__t1") + expr(s"INTERVAL '$windowSec' SECOND")
    val depths = scala.collection.mutable.ArrayBuffer(
      chains.select(col("__u"), lit(1).as("__lvl")))
    for (d <- 2 to steps.size) {
      val nxt = ev.filter(col("__et") === steps(d - 1))
        .select(col("__u"), col("__ts").as("__tn"))
      chains = chains.join(nxt, Seq("__u"))
        .filter(col("__tn") > col("__tk") && col("__tn") <= deadline)
        .groupBy(col("__u"), col("__t1"))
        .agg(min(col("__tn")).as("__tk"))
      depths += chains.select(col("__u"), lit(d).as("__lvl"))
    }
    depths.reduce(_ union _)
      .groupBy(col("__u"))
      .agg(max(col("__lvl")).as("level"))
      .select(col("__u").as("user"), col("level"))
  }

  /** The ONE transcript-assembly aggregate both [[assembleSessions]] and
    * the streaming face ([[graft.streaming.Streams.sessionTranscripts]])
    * use — the contract (native-typed tie-break order, NULL tokens as
    * empty slots, separator) must not live in two hand-maintained copies.
    * Tie-break fields ride the sort struct NATIVELY TYPED: stringified
    * ids would sort "10" before "9" — consistently on both engines, but
    * wrongly. A NULL token keeps its session slot as "" so n_events
    * always equals the transcript's token count (array_join would
    * silently drop null elements while count() kept counting them). */
  /** X80 — CUSUM change-point detection (Page 1954, the sequential
    * upward-shift detector every metric-monitoring stack ships): per key,
    * in event order, S_t = max(0, S_{t−1} + (x_t − k)) with an alarm
    * when S_t > h — drift smaller than the slack `k` per step decays
    * back to 0, a sustained shift accumulates to the alarm line, which
    * is why CUSUM catches slow drifts the per-point [[rollingOutliers]]
    * z-test never sees. A downward detector is the same operator on
    * negated values.
    *
    * The recursion LOOKS inherently sequential, but it closes over
    * prefix sums: with P_t = Σ_{i≤t}(x_i − k) and P_0 = 0,
    * S_t = P_t − min_{0≤j≤t} P_j — so the whole trajectory is TWO
    * running window aggregates (sum, then min-including-zero) on ONE
    * keyed window: a single shuffle on `keys`, incremental evaluation
    * per partition, no recursion, no driver state, and an external
    * engine replays it with the same two window functions (q228). All
    * arithmetic is integer micros (`value` is micro-pinned by the
    * caller's contract: values exact at 6 decimals), so the trajectory
    * is bit-identical under any partitioning and engine.
    *
    * `tieBreak` orders same-instant rows — REQUIRED for determinism
    * whenever (key, ts) can repeat ([[locf]]'s rule). NULL values are
    * refused (a NULL gap would silently reset the statistic — use
    * [[locf]] or filter explicitly upstream first). Emits every input
    * row plus `s_micro` and `alarm`; thresholds are micros. */
  def cusum(df: DataFrame, keys: Seq[String], tsCol: String,
      value: Column, kMicro: Long, hMicro: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(hMicro > 0, s"hMicro must be positive, got $hMicro")
    val missing = (keys ++ (tsCol +: tieBreak)).filterNot(df.columns.contains)
    require(missing.isEmpty, s"column(s) not in frame: ${missing.mkString(",")}")
    val w = keyedWindow(keys, tsCol, tieBreak).rowsBetween(Long.MinValue, 0)
    val p = sum(round(value * 1e6).cast("long") - lit(kMicro)).over(w)
    Refuse.rows(df, value.isNull -> lit(
        "cusum: NULL value found — a NULL gap would silently reset the " +
          "statistic; impute (locf) or filter explicitly upstream"))
      .withColumn("__p", p)
      .withColumn("s_micro",
        col("__p") - least(lit(0L), min(col("__p")).over(w)))
      .withColumn("alarm", col("s_micro") > hMicro)
      .drop("__p")
  }

  /** X76 — cohort retention: the product-analytics staple (Amplitude /
    * Mixpanel / every growth dashboard) — assign each user to the COHORT
    * of their first event's period, then count how many of each cohort
    * come back in each later period. The output is the retention
    * triangle: one row per (cohort, offset) with the active-user count,
    * the cohort's size (its offset-0 count — every user's first-event
    * period is by construction an active period) and the retention rate
    * in integer micros.
    *
    * Periods are ABSOLUTE epoch buckets: `unix_micros(ts) DIV
    * (periodSec·1e6)` — integer floor division on non-negative micros,
    * bit-identical in any engine (`epoch_us(ts) // …`), with none of the
    * locale/week-start ambiguity `date_trunc('week')` drags across
    * engines. Pre-1970 timestamps would make the dividend negative
    * (floor-vs-truncate divergence), so they are REFUSED rather than
    * silently mis-bucketed.
    *
    * Scale shape: first-event periods are one user-keyed aggregation
    * (map-side combinable min); activity is a distinct over (user,
    * period) — the second user-keyed shuffle; the cohort join is
    * user-keyed against a user-sized frame (AQE broadcast when cohorts
    * are small relative to events); the triangle is one final
    * (cohort, offset)-keyed aggregation over user-sized input, and the
    * size join is triangle-sized. No window functions, no driver state;
    * NULL users/timestamps are dropped (no cohort to belong to). */
  def cohortRetention(events: DataFrame, user: Column, ts: Column,
      periodSec: Long): DataFrame = {
    require(periodSec > 0, s"periodSec must be positive, got $periodSec")
    val ev = Refuse.rows(events
      .select(user.as("__u"), unix_micros(ts.cast("timestamp")).as("__us"))
      .filter(col("__u").isNotNull && col("__us").isNotNull),
      (col("__us") < 0) -> lit(
        "cohortRetention: pre-1970 timestamp found — negative epoch micros " +
          "floor-divide differently across engines; shift or filter upstream"))
    val period = ev.select(col("__u"),
      expr(s"__us DIV ${periodSec * 1000000L}").as("__p"))
    retentionTriangle(period)
  }

  /** The shared (user, period) → retention-triangle tail of both cohort
    * faces — one pipeline, two bucketing rules. */
  private def retentionTriangle(period: DataFrame): DataFrame = {
    val cohorts = period.groupBy(col("__u")).agg(min(col("__p")).as("cohort"))
    val tri = period.distinct()
      .join(cohorts, "__u")
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active"))
    val size = tri.filter(col("offset") === 0)
      .select(col("cohort"), col("active").as("cohort_size"))
    tri.join(size, "cohort")
      .select(col("cohort"), col("offset"), col("active"),
        col("cohort_size"),
        expr("active * 1000000 DIV cohort_size").as("ret_micro"))
  }

  /** Calendar-period index as an INTEGER both engines state identically —
    * the oracle-replayable answer to "every real dashboard asks calendar
    * weeks/months" without `date_trunc('week')`'s locale/week-start
    * ambiguity:
    *
    *  - `"month"`: months since 1970-01 = (year−1970)·12 + month−1 —
    *    `year()`/`month()` agree across engines under the pinned UTC
    *    session;
    *  - `"quarter"`: quarters since 1970Q1, same construction;
    *  - `"week"`: MONDAY-start weeks since epoch = (epochDay + 3) DIV 7
    *    (1970-01-01 was a Thursday; the +3 shift lands boundaries on ISO
    *    Mondays) — pure integer arithmetic on non-negative days, no
    *    engine's week-of-year rules involved.
    *
    * The integer divisions are computed remainder-subtracted
    * ((a − a mod b) / b — exactly divisible, so the double division is
    * exact) to stay inside codegen'd Column arithmetic; callers REFUSE
    * pre-1970 timestamps (negative dividends) exactly as the epoch-bucket
    * faces do. Consecutive periods differ by 1, so offsets subtract
    * directly — the property the retention triangle needs. */
  def calendarPeriod(ts: Column, unit: String): Column = {
    val tsc = ts.cast("timestamp")
    def idiv(a: Column, b: Long): Column =
      ((a - pmod(a, lit(b))) / lit(b)).cast("long")
    unit match {
      case "month" =>
        ((year(tsc) - 1970) * 12 + month(tsc) - 1).cast("long")
      case "quarter" =>
        ((year(tsc) - 1970) * 4 + quarter(tsc) - 1).cast("long")
      case "week" =>
        idiv(idiv(unix_micros(tsc), 86400000000L) + 3, 7L)
      case other => throw new IllegalArgumentException(
        s"unit must be month|quarter|week, got '$other'")
    }
  }

  /** X76's CALENDAR face: [[cohortRetention]] with cohorts and offsets in
    * calendar months/quarters/Monday weeks ([[calendarPeriod]]) instead
    * of absolute epoch buckets — the form every real dashboard asks for,
    * kept oracle-replayable by construction. Same contracts: pre-1970
    * refused, NULL users/timestamps dropped, same
    * triangle pipeline and scale shape. */
  def cohortRetentionCalendar(events: DataFrame, user: Column, ts: Column,
      unit: String): DataFrame = {
    val ev = Refuse.rows(events
      .select(user.as("__u"), unix_micros(ts.cast("timestamp")).as("__us"),
        calendarPeriod(ts, unit).as("__p"))
      .filter(col("__u").isNotNull && col("__us").isNotNull),
      (col("__us") < 0) -> lit(
        "cohortRetentionCalendar: pre-1970 timestamp found — negative " +
          "periods break the shared calendar arithmetic; shift or filter " +
          "upstream"))
    retentionTriangle(ev.select(col("__u"), col("__p")))
  }

  /** X91 — exact linear interpolation onto a time grid: the sensor /
    * metrics resampling face ([[gapFill]] makes missing buckets explicit,
    * [[locf]] carries values forward; this RESAMPLES sparse observations
    * onto a regular grid the way InfluxDB/TimescaleDB `interpolate` does
    * — the shape model features, joins against regular series, and
    * charting all need). Each key's grid spans its own observation range
    * at `stepSec` pitch (epoch-aligned floor buckets); a grid instant
    * takes the exact observation when one exists there, otherwise the
    * integer-micro linear blend of its bracketing observations:
    * `v = (v0·(t1−t) + v1·(t−t0)) DIV (t1−t0)` — floor, every operand a
    * non-negative span, so any engine replays it bit-for-bit. No
    * extrapolation: instants before a key's first or after its last
    * observation do not exist in the output (the grid is clipped to the
    * observed range — interpolation never invents a trend).
    *
    * Duplicate (key, ts) observations are REFUSED by a bounded probe —
    * two values at one instant make the blend ambiguous; aggregate
    * upstream to one value per instant first.
    *
    * Scale shape: one keys-sized range aggregation, a grid explode
    * (output-sized — the resampled table IS the product), a union with
    * the observation rows, and ONE keyed window (ASC order, two frames:
    * running last non-null behind, first non-null ahead — both frames
    * share the single sort/shuffle). No self-join, no driver state.
    *
    * Output: `(keys…, grid_ts_us, v_micro, interpolated)` — epoch-micro
    * grid instants, micro values, and whether the value was blended (vs
    * an exact on-grid observation). */
  def interpolateGrid(obs: DataFrame, keys: Seq[String], tsCol: String,
      valueMicro: Column, stepSec: Long): DataFrame = {
    require(stepSec >= 1, s"stepSec must be positive, got $stepSec")
    val stepUs = stepSec * 1000000L
    val raw = obs.select(keys.map(col) :+
        unix_micros(col(tsCol).cast("timestamp")).as("__t") :+
        valueMicro.cast("long").as("__v"): _*)
      .filter(col("__t").isNotNull && col("__v").isNotNull)
    val dup = raw.groupBy(keys.map(col) :+ col("__t"): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      "interpolateGrid: duplicate (key, ts) observation — two values at " +
        "one instant make the blend ambiguous; aggregate upstream")
    val o = Refuse.rows(raw, (col("__t") < 0) -> lit(
      "interpolateGrid: pre-1970 timestamp — negative epoch micros align " +
        "grid instants differently across engines; shift or filter upstream"))
    // each key's grid: step-aligned instants covering [min, max]; a key
    // whose range straddles no aligned instant contributes nothing
    val grid = o.groupBy(keys.map(col): _*)
      .agg(min(col("__t")).as("__lo"), max(col("__t")).as("__hi"))
      .withColumn("__glo", expr(s"(__lo + ${stepUs - 1}L) DIV ${stepUs}L * ${stepUs}L"))
      .withColumn("__ghi", expr(s"__hi DIV ${stepUs}L * ${stepUs}L"))
      .filter(col("__glo") <= col("__ghi"))
      .select(keys.map(col) :+
        explode(sequence(col("__glo"), col("__ghi"), lit(stepUs))).as("__g"): _*)
      .select(keys.map(col) :+ col("__g").as("__t") :+
        lit(null).cast("long").as("__v") :+ lit(true).as("__isGrid"): _*)
    val union = o.withColumn("__isGrid", lit(false)).unionByName(grid)
    // one sort: observations order BEFORE the grid row at the same
    // instant, so an on-grid observation is "behind or here" for its own
    // grid row and the blend degenerates to the exact value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__isGrid"))
    val back = w.rowsBetween(Long.MinValue, 0)
    val fwd = w.rowsBetween(0, Long.MaxValue)
    union
      .withColumn("__v0", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__t0",
        last(when(col("__v").isNotNull, col("__t")), ignoreNulls = true)
          .over(back))
      .withColumn("__v1", first(col("__v"), ignoreNulls = true).over(fwd))
      .withColumn("__t1",
        first(when(col("__v").isNotNull, col("__t")), ignoreNulls = true)
          .over(fwd))
      // an on-grid observation sorts BEFORE its grid row, so that grid
      // row's backward frame already holds the exact value — no forward
      // bracket needed there (which is what saves the range's last instant)
      .filter(col("__isGrid") && col("__v0").isNotNull &&
        (col("__v1").isNotNull || col("__t0") === col("__t")))
      .select(keys.map(col) :+ col("__t").as("grid_ts_us") :+
        // the blend's products (value micros × a bracket span in micros)
        // overflow Long for wide gaps; DECIMAL(38,0) keeps them exact and
        // only output-sized rows pay for it
        when(col("__t0") === col("__t"), col("__v0"))
          .otherwise(expr(
            "CAST((CAST(__v0 AS DECIMAL(38,0)) * (__t1 - __t) " +
              "+ CAST(__v1 AS DECIMAL(38,0)) * (__t - __t0)) " +
              "DIV (__t1 - __t0) AS BIGINT)"))
          .as("v_micro") :+
        (col("__t0") =!= col("__t")).as("interpolated"): _*)
  }

  /** X98 — rolling active-key counts (the DAU/WAU/MAU dashboard
    * primitive): for every observed day, how many distinct keys were
    * active in the trailing `windowDays` window. A sliding COUNT
    * DISTINCT cannot ride a window function (distinct does not compose
    * incrementally), and the engine answer is this exact identity: a key
    * active on day d is "active in the window ending at r" for every
    * r in [d, d+W) — so one (key, day) distinct pass, a CONSTANT-W
    * explode of report days, and one per-day distinct count give the
    * whole series in two shuffles, no per-day rescans, no window
    * functions. Report days are clipped to days that actually appear in
    * the data (the dashboard convention — no phantom trailing days).
    *
    * Exactness note: this is the exact face; at 100 TB-scale key
    * cardinalities the mergeable-sketch face (per-day HLL from X27,
    * union over the trailing W) answers the same question approximately
    * in O(days·sketch) state — the X92 exact-vs-sketch design point,
    * again. Pre-1970 timestamps are refused (the X76 alignment rule);
    * NULL keys/timestamps drop. Output: `(day, n_active)`. */
  def rollingActive(events: DataFrame, key: Column, ts: Column,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1 && windowDays <= 400,
      s"windowDays must be in [1, 400], got $windowDays")
    val ev = Refuse.rows(events
      .select(key.as("__k"), unix_micros(ts.cast("timestamp")).as("__us"))
      .filter(col("__k").isNotNull && col("__us").isNotNull),
      (col("__us") < 0) -> lit(
        "rollingActive: pre-1970 timestamp — negative epoch micros " +
          "floor-divide differently across engines; shift or filter upstream"))
    val kd = ev.select(col("__k"),
      expr("__us DIV 86400000000").as("__d")).distinct()
    val observed = kd.select(col("__d").as("day")).distinct()
    kd.select(col("__k"),
        explode(sequence(col("__d"),
          col("__d") + (windowDays - 1))).as("day"))
      .join(observed, "day")
      .groupBy("day")
      .agg(countDistinct(col("__k")).as("n_active"))
  }

  /** [[rollingActive]]'s mergeable-sketch face (the X27 HLL applied to
    * the X98 projection identity): per-day HLL sketches of the active
    * keys, each projected onto the `windowDays` report days it serves
    * and UNIONED per report day — `(day, n_active_est)`. This is what a
    * 100 TB DAU/WAU dashboard actually runs: the first shuffle carries
    * partial per-day sketches (map-side merged, lgK-sized buffers, never
    * keys), and the SECOND shuffle carries days × W sketch ROWS of a few
    * KB each — day-count-sized, corpus-size-independent — where the
    * exact face re-shuffles the whole (key, day) frame W-wide and pays a
    * per-day exact distinct. Estimates carry the HLL relative standard
    * deviation ~1.04/√2^lgK (~1.6% at the default lgK=12); gate
    * correctness on [[rollingActive]], dashboards on this (the q109
    * bound-flag contract — DataSketches binaries are not replayable
    * outside the JVM). Same contracts as the exact face: report days
    * clipped to observed days, pre-1970 refused, NULL keys/timestamps
    * dropped. */
  def rollingActiveSketch(events: DataFrame, key: Column, ts: Column,
      windowDays: Int, lgK: Int = 12): DataFrame = {
    require(windowDays >= 1 && windowDays <= 400,
      s"windowDays must be in [1, 400], got $windowDays")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    val ev = Refuse.rows(events
      .select(key.as("__k"), unix_micros(ts.cast("timestamp")).as("__us"))
      .filter(col("__k").isNotNull && col("__us").isNotNull),
      (col("__us") < 0) -> lit(
        "rollingActiveSketch: pre-1970 timestamp — negative epoch micros " +
          "floor-divide differently across engines; shift or filter upstream"))
    val daily = ev.select(col("__k"), expr("__us DIV 86400000000").as("__d"))
      .groupBy("__d")
      .agg(hll_sketch_agg(col("__k"), lit(lgK)).as("__sk"))
    val observed = daily.select(col("__d").as("day"))
    daily.select(col("__sk"),
        explode(sequence(col("__d"),
          col("__d") + (windowDays - 1))).as("day"))
      .join(observed, "day")
      .groupBy("day")
      .agg(hll_union_agg(col("__sk"), lit(false)).as("__u"))
      .select(col("day"),
        hll_sketch_estimate(col("__u")).cast("long").as("n_active_est"))
  }

  /** X102 — sequential path mining: the top CONSECUTIVE n-step event
    * paths across users — "what do people actually do, in order" — the
    * product-analytics report between X73's fixed funnel (did users pass
    * MY hypothesized steps) and X87's Markov matrix (one-step dynamics):
    * this one DISCOVERS the multi-step paths, with how many journeys and
    * how many distinct users walked each.
    *
    * Mechanics: each user's events order by (ts, tieBreak) — `tieBreak`
    * REQUIRED, the [[locf]] same-instant stance — and every consecutive
    * window of n states becomes one gram (the X57 " > " transcript
    * convention); grams count occurrences and distinct walkers, and the
    * report is the bounded top-K by (occurrences desc, gram asc) — a
    * total order, so the cut is deterministic. Paths do not span users;
    * sessionize upstream ([[assembleSessions]]) when they must not span
    * gaps either. NULL users/timestamps/states drop.
    *
    * Scale shape: ONE user-keyed window (the n−1 leads share one
    * sort/shuffle), a map-only gram projection, one gram-keyed
    * aggregation with map-side combine (distinct-user state bounded per
    * gram), and the L2 bounded top-k. No self-joins, no driver state
    * beyond the K-row result. */
  def pathNgrams(events: DataFrame, user: Column, ts: Column, state: Column,
      n: Int, tieBreak: Seq[String], topK: Int = 100,
      sep: String = " > "): DataFrame = {
    require(n >= 2 && n <= 10, s"n must be in [2, 10], got $n")
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    require(tieBreak.nonEmpty,
      "pathNgrams needs tieBreak column(s) — same-instant events have no " +
        "deterministic path order without one (the locf stance)")
    val ev = events.select(user.as("__u") +: ts.as("__ts") +:
        state.cast("string").as("__s") +: tieBreak.map(col): _*)
      .filter(col("__u").isNotNull && col("__ts").isNotNull &&
        col("__s").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"))
      .orderBy(col("__ts") +: tieBreak.map(col): _*)
    val withLeads = (1 until n).foldLeft(ev.withColumn("__g0", col("__s"))) {
      (acc, i) => acc.withColumn(s"__g$i", lead(col("__s"), i).over(w))
    }
    withLeads
      .filter((1 until n).map(i => col(s"__g$i").isNotNull).reduce(_ && _))
      .select(col("__u"),
        concat_ws(sep, (0 until n).map(i => col(s"__g$i")): _*).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__u")).as("n_users"))
      .orderBy(desc("n_occurrences"), col("gram"))
      .limit(topK)
  }

  /** X109 — seasonal-naive forecast backtest: score the forecast every
    * real forecasting system must beat — ŷ_t = y_{t−season} ("next
    * Monday looks like last Monday") — against history, per group. The
    * M-competition lesson institutionalized as a pipeline stage: a model
    * that can't beat seasonal-naive on MAE is negative value, so the
    * backtest of the BASELINE is the yardstick everything else is read
    * against (and its error profile is itself the seasonality-strength
    * report).
    *
    * Exactness: periods are integer indexes (day/hour buckets — the X76
    * rule) and the forecast comes from a (group, period − season)
    * EQUI-join, not a row-offset lag — gaps in the series leave those
    * periods unevaluated instead of silently mis-aligning the season.
    * Errors are exact Longs: `mae_micro = Σ|e| DIV n` and
    * `bias_micro = Σe DIV n` (truncating — the shared negative-division
    * semantics, X86), and MAPE accumulates per-row floors
    * `|e|·1e6 DIV |y|` over non-zero actuals only (`n_mape` rides along;
    * zero-actual MAPE is undefined, not zero). Duplicate (group, period)
    * observations are REFUSED (two values make the forecast ambiguous —
    * the X91 stance); values arrive in micro units already.
    *
    * Scale shape: one duplicate-probe aggregation, ONE group+period
    * keyed self-join (the season shift rides the join key — map-only),
    * one group-keyed aggregation with map-side combine. Output:
    * `(groups…, n_eval, mae_micro, bias_micro, n_mape, mape_micro)`. */
  def seasonalNaiveBacktest(df: DataFrame, groups: Seq[String],
      period: Column, valueMicro: Column, season: Int): DataFrame = {
    require(season >= 1 && season <= 100000,
      s"season must be in [1, 1e5], got $season")
    val base = df.select(groups.map(col) :+ period.cast("long").as("__p") :+
        valueMicro.cast("long").as("__y"): _*)
      .filter(col("__p").isNotNull && col("__y").isNotNull)
    val dup = base.groupBy(groups.map(col) :+ col("__p"): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      "seasonalNaiveBacktest: duplicate (group, period) observation — " +
        "two values make the forecast ambiguous; aggregate upstream")
    val hist = base.select(groups.zipWithIndex.map { case (g, i) =>
      col(g).as(s"__g$i") } :+ (col("__p") + season).as("__fp") :+
      col("__y").as("__f"): _*)
    val cond = groups.zipWithIndex
      .map { case (g, i) => base(g) <=> hist(s"__g$i") }
      .foldLeft(base("__p") === hist("__fp"))(_ && _)
    base.join(hist, cond, "inner")
      .select(groups.map(col) :+ col("__y") :+ col("__f"): _*)
      .withColumn("__e", col("__y") - col("__f"))
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_eval"),
        expr("sum(abs(__e)) DIV count(1)").as("mae_micro"),
        expr("sum(__e) DIV count(1)").as("bias_micro"),
        sum(when(col("__y") =!= 0, 1L).otherwise(0L)).as("n_mape"),
        expr("CASE WHEN sum(CASE WHEN __y <> 0 THEN 1 ELSE 0 END) > 0 " +
          "THEN sum(CASE WHEN __y <> 0 THEN abs(__e) * 1000000 DIV abs(__y) " +
          "ELSE 0 END) DIV sum(CASE WHEN __y <> 0 THEN 1 ELSE 0 END) END")
          .as("mape_micro"))
  }

  /** X82 — multi-touch conversion attribution (the Google-Analytics /
    * Adjust model family): every conversion distributes exactly one unit
    * of credit (1e6 micros) over the user's preceding touch events inside
    * a lookback window. Models:
    *
    *   - `"last"` / `"first"`: the whole unit to the latest / earliest
    *     touch — the single-touch baselines every report starts from;
    *   - `"linear"`: 1e6 DIV n to each of the n touches, the floor
    *     remainder to the LAST touch (floor renormalization — credits
    *     sum to exactly 1e6, the X71 deficit rule);
    *   - `"position"`: the published U-shape — 40% first, 40% last, the
    *     middle 20% split evenly over the n−2 interior touches (floor,
    *     remainder to the last interior touch); n=1 takes 100%, n=2
    *     splits 50/50.
    *
    * A conversion with NO touch in its window emits one `"(direct)"` row
    * with full credit and a NULL touch ts — dropping it would silently
    * deflate every channel report's denominator.
    *
    * Touch order is (ts, channel): same-instant touches on the same
    * channel are interchangeable, and any position assignment among them
    * yields the same output MULTISET — so the result is deterministic
    * under partitioning, retries, and across engines even though
    * row_number breaks those ties arbitrarily. Touches AT the conversion
    * instant are excluded (strictly before — simultaneous events never
    * cause each other, the funnel rule).
    *
    * Output: one row per (conversion, credited touch):
    * `(user, conv_ts, channel, touch_ts, credit_micro)`.
    *
    * Scale shape: one user-keyed equi-join narrowed by the lookback range
    * (fan-out per user = conversions_u × touches-in-window — bounded by
    * the lookback in practice; a power-user key is [[funnelLevels]]'s
    * salting caveat), then one window over (user, conv_ts) for position
    * and count, then a map-only credit expression; the direct rows are a
    * user-keyed anti-join. No driver state, no corpus-wide sort. */
  def attributeConversions(events: DataFrame, user: Column, ts: Column,
      channel: Column, isConversion: Column, lookbackSec: Long,
      model: String): DataFrame = {
    require(Seq("last", "first", "linear", "position").contains(model),
      s"model must be last|first|linear|position, got $model")
    require(lookbackSec >= 1, s"lookbackSec must be positive, got $lookbackSec")
    val ev = events.select(user.as("__u"), ts.cast("timestamp").as("__ts"),
        channel.as("__ch"), isConversion.as("__conv"))
      .filter(col("__u").isNotNull && col("__ts").isNotNull)
    val conv = ev.filter(col("__conv"))
      .select(col("__u"), col("__ts").as("conv_ts"))
    val touch = ev.filter(!col("__conv") && col("__ch").isNotNull)
      .select(col("__u"), col("__ts").as("touch_ts"), col("__ch"))
    val joined = conv.join(touch, Seq("__u"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL '$lookbackSec' SECOND"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"), col("conv_ts"))
    val ranked = joined
      .withColumn("__pos", row_number().over(
        w.orderBy(col("touch_ts"), col("__ch"))))
      .withColumn("__n", count(lit(1)).over(w))
    val credit = model match {
      case "last" => when(col("__pos") === col("__n"), 1000000L).otherwise(0L)
      case "first" => when(col("__pos") === 1, 1000000L).otherwise(0L)
      case "linear" =>
        // floor share everywhere, remainder folded into the last touch
        expr("1000000 DIV __n") +
          when(col("__pos") === col("__n"), expr("1000000 % __n")).otherwise(0L)
      case "position" =>
        when(col("__n") === 1, 1000000L)
          .when(col("__n") === 2, 500000L)
          .when(col("__pos") === 1, 400000L)
          .when(col("__pos") === col("__n"), 400000L)
          .otherwise(expr("200000 DIV (__n - 2)") +
            when(col("__pos") === col("__n") - 1,
              expr("200000 % (__n - 2)")).otherwise(0L))
    }
    val attributed = ranked
      .filter(credit > 0) // last/first models: uncredited touches drop out
      .select(col("__u").as("user"), col("conv_ts"),
        col("__ch").as("channel"), col("touch_ts"),
        credit.cast("long").as("credit_micro"))
    val direct = conv
      .join(joined.select(col("__u"), col("conv_ts")).distinct(),
        Seq("__u", "conv_ts"), "left_anti")
      .select(col("__u").as("user"), col("conv_ts"),
        lit("(direct)").as("channel"), lit(null).cast("timestamp").as("touch_ts"),
        lit(1000000L).as("credit_micro"))
    attributed.unionAll(direct)
  }

  /** X120 — simple-exponential-smoothing forecast backtest: the LEVEL
    * baseline between X55's flat carry-forward and X109's seasonal
    * repeat — ŷ_t = ℓ_{t−1}, ℓ_t = α·y_t + (1−α)·ℓ_{t−1} (Brown 1956;
    * the ETS(A,N,N) member of the Hyndman taxonomy), the standard
    * "recent history, exponentially discounted" yardstick a trend-free
    * metric forecast must beat, and the smoothed level itself is the
    * de-noised dashboard line.
    *
    * Exact fixed-point contract (the X87/X104 trajectory rules): values
    * arrive in micro units, the level recurrence runs
    * `ℓ = (α_µ·y + (1e6−α_µ)·ℓ) DIV 1e6` with TRUNCATING division
    * (the engines' shared semantics on negative metrics, X86) and a
    * 128-bit intermediate (α_µ·y overflows Long past |y| ≈ 9.2e12µ),
    * so any engine replays the whole trajectory bit-for-bit with a
    * recursive CTE; |ℓ| never exceeds max|y| + 1 (convex combination,
    * floor grain). Duplicate (group, period) observations are REFUSED
    * (ambiguous forecast, the X109 stance); gaps are treated as
    * consecutive steps (SES has no calendar — bucket upstream if the
    * gap should decay further). The first step of a group has no
    * forecast → NULL forecast/error (never a fake self-forecast).
    *
    * Scale shape: the sequential fold runs DRIVER-side over the
    * (group × periods) step table, a [[StepTable]] — `maxSteps`-refused,
    * never subject-sized, its one sorted collect the only eager job.
    * Output: one row per observation — `(grp, p, y_micro,
    * forecast_micro, err_micro, level_micro)`. */
  def sesBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, alphaMicro: Long,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps SES steps — bucket periods upstream (the " +
        "bounded driver-fold stance)",
      Duplicate("sesBacktest: duplicate (group, period) observation — " +
        "two values make the forecast ambiguous; aggregate upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro") { (g, rows) =>
        var level = rows.head.getLong(2) // ℓ₁ = y₁, the standard start
        (g, rows.head.getLong(1), level, None, None, level) +:
          rows.tail.map { r =>
            val p = r.getLong(1); val y = r.getLong(2)
            val f = level
            level = ((BigInt(alphaMicro) * y +
              BigInt(1000000L - alphaMicro) * level) / 1000000L).toLong
            (g, p, y, Some(f), Some(y - f), level)
          }
      }
  }

  /** `(__g, __p, __y)` of a (group, period, value) series: NULL groups
    * form the real group "(null)", NULL periods and values drop. */
  private def series(df: DataFrame, group: Column, period: Column,
      value: Column): DataFrame =
    df.select(
        coalesce(group.cast("string"), lit("(null)")).as("__g"),
        period.cast("long").as("__p"), value.cast("long").as("__y"))
      .filter(col("__p").isNotNull && col("__y").isNotNull)

  /** The (group, period)-keyed [[StepTable]] of a series' recurrence. */
  private def steps(df: DataFrame, group: Column, period: Column,
      value: Column, maxSteps: Int, tooMany: String,
      refusals: StepTable.Refusal*): StepTable = {
    require(maxSteps >= 1, s"maxSteps must be positive, got $maxSteps")
    StepTable(series(df, group, period, value), Seq("__g", "__p"), maxSteps,
      tooMany, refusals: _*)
  }

  /** X124 — Holt linear-trend forecast backtest: the TREND member
    * between [[sesBacktest]]'s level (ETS(A,N,N)) and
    * [[seasonalBacktest]]'s repeat — two coupled recurrences (Holt 1957;
    * ETS(A,A,N)):
    *   ŷ_t = ℓ_{t−1} + b_{t−1}
    *   ℓ_t = α·y_t + (1−α)·(ℓ_{t−1} + b_{t−1})
    *   b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}
    * the baseline a DRIFTING metric actually needs: SES chases a ramp
    * with a permanent lag, Holt extrapolates it.
    *
    * Exact fixed-point contract ([[sesBacktest]]'s, verbatim): micro
    * units, both recurrences run in 128-bit intermediates with
    * TRUNCATING division by 1e6 (BigInt `/` ≡ DuckDB `//` toward zero —
    * the trend term goes NEGATIVE on declines, so the rounding
    * direction is part of the spec), so any engine replays the whole
    * (ℓ, b) trajectory bit-for-bit with one recursive CTE.
    * Initialization: ℓ₁ = y₁, b₁ = 0 — the ZERO-TREND start, chosen so
    * the degeneracies pin the operator to its neighbors: β = 0 keeps
    * b ≡ 0 and the fold IS [[sesBacktest]] term-for-term; α = 1e6 makes
    * ℓ ≡ y and b a β-smoothed first difference. (The y₂−y₁ start is the
    * other textbook option; it buys one step of warm-up at the cost of
    * both pins.) Duplicate (group, period) observations are REFUSED;
    * gaps are consecutive steps (no calendar — bucket upstream); the
    * first step has NULL forecast/error.
    *
    * Scale shape = [[sesBacktest]]: the [[StepTable]] driver fold over
    * the (group × periods) step table — never subject-sized. Output: one
    * row per observation — `(grp, p, y_micro, forecast_micro, err_micro,
    * level_micro, trend_micro)`. */
  def holtBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, alphaMicro: Long, betaMicro: Long,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    require(betaMicro >= 0 && betaMicro <= 1000000L,
      s"betaMicro must be in [0, 1e6], got $betaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps Holt steps — bucket periods upstream (the " +
        "bounded driver-fold stance)",
      Duplicate("holtBacktest: duplicate (group, period) observation — " +
        "two values make the forecast ambiguous; aggregate upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro", "trend_micro") { (g, rows) =>
        // ℓ₁ = y₁, b₁ = 0: the zero-trend start (see doc)
        var level = rows.head.getLong(2)
        var trend = 0L
        (g, rows.head.getLong(1), level, None, None, level, trend) +:
          rows.tail.map { r =>
            val p = r.getLong(1); val y = r.getLong(2)
            val f = level + trend
            val prevLevel = level
            level = ((BigInt(alphaMicro) * y +
              BigInt(1000000L - alphaMicro) * f) / 1000000L).toLong
            trend = ((BigInt(betaMicro) * (level - prevLevel) +
              BigInt(1000000L - betaMicro) * trend) / 1000000L).toLong
            (g, p, y, Some(f), Some(y - f), level, trend)
          }
      }
  }

  /** X139 — DAMPED-trend forecast backtest (Gardner & McKenzie 1985):
    * [[holtBacktest]] with the trend multiplied by a damping factor
    * φ ∈ (0, 1] each step, the fix for Holt's one systematic failure —
    * a linear trend extrapolated forever overshoots any series that
    * saturates (adoption curves, capacity-bounded traffic):
    *   ŷ_t = ℓ_{t−1} + φ·b_{t−1}
    *   ℓ_t = α·y_t + (1−α)·(ℓ_{t−1} + φ·b_{t−1})
    *   b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·φ·b_{t−1}
    *
    * Exact fixed-point contract = X124's verbatim (micro units, 128-bit
    * intermediates, TRUNCATING division toward zero), with φ's damping
    * applied as ONE extra truncating micro-multiply per recurrence:
    * `φb = (φ_µ·b) DIV 1e6` is computed ONCE per step and that SAME
    * value feeds the forecast, the level, and the trend — not three
    * independent roundings (an engine replaying the trajectory carries
    * (ℓ, b) and derives φb once per recursive step). Initialization
    * ℓ₁ = y₁, b₁ = 0; degeneracy pins: φ = 1e6 makes φb ≡ b and the fold
    * IS [[holtBacktest]] term for term (spec-pinned); β = 0 keeps b ≡ 0
    * and the fold IS [[sesBacktest]]. Duplicate (group, period) refused;
    * gaps are consecutive steps (no calendar); first row NULL forecast.
    *
    * Scale shape = X120/X124: the [[StepTable]] driver fold over the
    * bounded step table. Output: `(grp, p, y_micro, forecast_micro,
    * err_micro, level_micro, trend_micro)`. */
  def dampedHoltBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, alphaMicro: Long, betaMicro: Long,
      phiMicro: Long, maxSteps: Int = 100000): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    require(betaMicro >= 0 && betaMicro <= 1000000L,
      s"betaMicro must be in [0, 1e6], got $betaMicro")
    require(phiMicro > 0 && phiMicro <= 1000000L,
      s"phiMicro must be in (0, 1e6], got $phiMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps damped-Holt steps — bucket periods upstream " +
        "(the bounded driver-fold stance)",
      Duplicate("dampedHoltBacktest: duplicate (group, period) observation " +
        "— two values make the forecast ambiguous; aggregate upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro", "trend_micro") { (g, rows) =>
        // ℓ₁ = y₁, b₁ = 0: the X124 zero-trend start
        var level = rows.head.getLong(2)
        var trend = 0L
        (g, rows.head.getLong(1), level, None, None, level, trend) +:
          rows.tail.map { r =>
            val p = r.getLong(1); val y = r.getLong(2)
            // φb computed ONCE, truncating toward zero, then reused — the
            // replay contract (three independent roundings would drift)
            val phiB = (BigInt(phiMicro) * trend / 1000000L).toLong
            val f = level + phiB
            val prevLevel = level
            level = ((BigInt(alphaMicro) * y +
              BigInt(1000000L - alphaMicro) * f) / 1000000L).toLong
            trend = ((BigInt(betaMicro) * (level - prevLevel) +
              BigInt(1000000L - betaMicro) * phiB) / 1000000L).toLong
            (g, p, y, Some(f), Some(y - f), level, trend)
          }
      }
  }

  /** X141 — Croston's method for INTERMITTENT demand (Croston 1972):
    * the forecast member the ETS kit (X120/X124/X127/X139) cannot
    * express — a series that is MOSTLY ZERO with occasional positive
    * demands (spare parts, long-tail SKUs, rare-event quotas). SES on
    * such a series chases zeros down and spikes up; Croston separates
    * the signal into TWO smoothed components — nonzero demand SIZE z
    * and inter-demand INTERVAL p — and forecasts the per-period rate
    * z/p, updating both ONLY at demand periods:
    *   at each y > 0:  z ← α·y + (1−α)·z,   p ← α·q + (1−α)·p
    *   (q = periods since the previous demand); zeros leave state alone.
    *
    * Exact fixed-point contract (the X124 discipline): micro units,
    * TRUNCATING division toward zero, 128-bit intermediates; intervals
    * carry as micros (q·1e6), and the forecast is one floored division
    * `f = z·1e6 DIV p` of the two state micros. Initialization is
    * STATED: the first nonzero row sets z₁ = y, p₁ = q₁·1e6 with q₁ its
    * 1-based position in the group (the interval from series start);
    * rows at or before it have no honest forecast → NULL. Degeneracy
    * pin: an all-nonzero series keeps q ≡ 1 so p ≡ 1e6 exactly and the
    * fold IS [[sesBacktest]] term for term (spec-pinned) — Croston
    * degrades to SES exactly when demand stops being intermittent.
    *
    * Periods must be CONSECUTIVE within each group (a zero-demand
    * period is an explicit y = 0 ROW, not a gap — a missing row would
    * silently shorten intervals, the one error this operator exists to
    * not make); REFUSED otherwise, the X127 stance. Negative demand
    * REFUSED (undefined under Croston). Duplicates refused.
    *
    * Scale shape = X127: the [[StepTable]] driver fold, its negative,
    * duplicate and consecutiveness refusals checked in that order on
    * the step table's one sorted collect. Output: one row per
    * observation — `(grp, p, y_micro, forecast_micro, z_micro,
    * p_interval_micro)`. */
  def crostonBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, alphaMicro: Long,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps Croston steps — bucket periods upstream " +
        "(the bounded driver-fold stance)",
      Broken(col("__y") < 0,
        "crostonBacktest: negative demand — Croston smooths nonnegative " +
          "demand sizes; fix the construction upstream"),
      Duplicate("crostonBacktest: duplicate (group, period) observation — " +
        "two values make the forecast ambiguous; aggregate upstream"),
      Gap((_, _) =>
        "crostonBacktest: non-consecutive periods — a zero-demand period " +
          "is an explicit y = 0 row, not a gap (a missing row silently " +
          "shortens intervals); densify upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "z_micro",
        "p_interval_micro") { (g, rows) =>
        var idx = 0L
        var z = 0L
        var pI = 0L
        var lastNz = 0L
        var warmed = false
        rows.map { r =>
          val p = r.getLong(1); val y = r.getLong(2)
          idx += 1
          if (!warmed) {
            if (y > 0) { // the stated init: z₁ = y, p₁ = q₁·1e6
              z = y; pI = idx * 1000000L; lastNz = idx; warmed = true
              (g, p, y, None, Some(z), Some(pI))
            } else (g, p, y, None, None, None)
          } else {
            val f = (BigInt(z) * 1000000L / pI).toLong // pI ≥ 1e6: exact floor
            if (y > 0) {
              val q = idx - lastNz
              z = ((BigInt(alphaMicro) * y +
                BigInt(1000000L - alphaMicro) * z) / 1000000L).toLong
              pI = ((BigInt(alphaMicro) * q * 1000000L +
                BigInt(1000000L - alphaMicro) * pI) / 1000000L).toLong
              lastNz = idx
            }
            (g, p, y, Some(f), Some(z), Some(pI))
          }
        }
      }
  }

  /** X127 — Holt-Winters ADDITIVE seasonal forecast backtest: the full
    * ETS(A,A,A) member completing the kit (X120 level, X124 trend, X109
    * seasonal repeat) — the baseline for a metric that both drifts AND
    * breathes with a calendar (weekly traffic on a growing product):
    *   ŷ_t = ℓ_{t−1} + b_{t−1} + s_{t−m}
    *   ℓ_t = α·(y_t − s_{t−m}) + (1−α)·(ℓ_{t−1} + b_{t−1})
    *   b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t − ℓ_t) + (1−γ)·s_{t−m}
    * (Winters 1960; Hyndman's ETS taxonomy).
    *
    * Exact fixed-point contract = X124's (micro units, 128-bit
    * intermediates, TRUNCATING division toward zero), with the WARM-UP
    * stated exactly: the first `m` observations of a group initialize
    * ℓ_m = (Σ y_{1..m}) DIV m (truncating), b_m = 0, s_i = y_i − ℓ_m,
    * and emit NULL forecast/state (a warm-up row has no honest
    * forecast); the recurrences run from row m+1. Any engine replays the
    * trajectory with ONE recursive CTE carrying the m-slot seasonal ring
    * as a LIST column (rotate-append per step) — the q285 pattern plus a
    * list. Degeneracy pin: a CONSTANT warm-up with γ = 0 zeroes every
    * seasonal slot and the fold IS [[holtBacktest]] from row m onward,
    * term for term (spec-pinned).
    *
    * Periods must be CONSECUTIVE integers within each group (p = prev+1)
    * — REFUSED otherwise: a gap silently shifts season alignment, the
    * one error this operator exists to not make (X120/X124 tolerate gaps
    * because they have no calendar; the seasonal ring IS a calendar).
    * Groups with ≤ m observations emit warm-up rows only (all-NULL
    * state: "not enough history", never a fake season). Duplicate
    * (group, period) refused.
    *
    * Scale shape = X120/X124: the [[StepTable]] driver fold, its
    * duplicate and consecutiveness refusals checked on the step table's
    * one sorted collect (a gap reports the first in (group, period)
    * order). Output: one row per observation — `(grp, p, y_micro,
    * forecast_micro, err_micro, level_micro, trend_micro,
    * season_micro)`. */
  def holtWintersBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, m: Int, alphaMicro: Long, betaMicro: Long,
      gammaMicro: Long, maxSteps: Int = 100000): DataFrame = {
    require(m >= 2 && m <= 10000, s"season length m must be in [2, 10000], got $m")
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    require(betaMicro >= 0 && betaMicro <= 1000000L,
      s"betaMicro must be in [0, 1e6], got $betaMicro")
    require(gammaMicro >= 0 && gammaMicro <= 1000000L,
      s"gammaMicro must be in [0, 1e6], got $gammaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps Holt-Winters steps — bucket periods upstream " +
        "(the bounded driver-fold stance)",
      Duplicate("holtWintersBacktest: duplicate (group, period) " +
        "observation — two values make the forecast ambiguous; aggregate " +
        "upstream"),
      Gap((p, pp) => s"holtWintersBacktest: non-consecutive periods " +
        s"$p after $pp — a gap shifts season alignment; gap-fill or " +
        "re-index upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro", "trend_micro", "season_micro") { (g, rows) =>
        // warm-up buffer, then the seasonal ring
        var warm = Vector.empty[(Long, Long)] // (p, y) of the first ≤ m rows
        var level = 0L
        var trend = 0L
        var ring = Vector.empty[Long] // s_{t−m} at the head
        var running = false
        def initFromWarm(): Unit = {
          val l0 = (warm.map(w => BigInt(w._2)).sum / warm.length).toLong
          level = l0; trend = 0L
          ring = warm.map(_._2 - l0)
          running = true
          // warm-up rows emit NULL state — re-emit nothing; they were
          // emitted as they arrived
        }
        rows.map { r =>
          val p = r.getLong(1); val y = r.getLong(2)
          if (!running) {
            warm = warm :+ ((p, y))
            if (warm.length == m) initFromWarm()
            (g, p, y, None, None, None, None, None)
          } else {
            val sOld = ring.head
            val f = level + trend + sOld
            val prevLevel = level
            level = ((BigInt(alphaMicro) * (y - sOld) +
              BigInt(1000000L - alphaMicro) * (prevLevel + trend)) / 1000000L)
              .toLong
            trend = ((BigInt(betaMicro) * (level - prevLevel) +
              BigInt(1000000L - betaMicro) * trend) / 1000000L).toLong
            val sNew = ((BigInt(gammaMicro) * (y - level) +
              BigInt(1000000L - gammaMicro) * sOld) / 1000000L).toLong
            ring = ring.tail :+ sNew
            (g, p, y, Some(f), Some(y - f), Some(level), Some(trend),
              Some(sNew))
          }
        }
      }
  }

  /** X175 — Holt-Winters MULTIPLICATIVE seasonal forecast backtest,
    * the ETS(A,A,M) companion to [[holtWintersBacktest]] (Winters
    * 1960 §4; Hyndman's taxonomy — R's `HoltWinters` and statsmodels
    * ship both forms): for series whose seasonal swing SCALES with
    * level — most traffic/revenue series breathe in percent, not in
    * absolute units, and the additive form systematically under-swings
    * their peaks as the level grows:
    *   ŷ_t = (ℓ_{t−1} + b_{t−1}) · s_{t−m}
    *   ℓ_t = α·(y_t / s_{t−m}) + (1−α)·(ℓ_{t−1} + b_{t−1})
    *   b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t / ℓ_t) + (1−γ)·s_{t−m}
    * with s a RATIO in micros (1e6 = flat season).
    *
    * Exact fixed-point contract = [[holtWintersBacktest]]'s (micro
    * units, 128-bit intermediates, TRUNCATING division toward zero),
    * with each seasonal interaction ONE truncating integer DIV instead
    * of the additive form's subtraction: deseasonalize
    * `(y·1e6) DIV s_{t−m}`, forecast `((ℓ+b)·s_{t−m}) DIV 1e6`,
    * seasonal update from `(y·1e6) DIV ℓ_t`. Warm-up stated exactly:
    * ℓ_m = (Σ y_{1..m}) DIV m, b_m = 0, s_i = (y_i·1e6) DIV ℓ_m, NULL
    * state rows until then. Degeneracy pin: a CONSTANT warm-up zeroes
    * no slot but pins every s_i = 1e6 exactly, and with γ = 0 the fold
    * IS [[holtBacktest]] from row m+1 term for term (spec-pinned —
    * DIV by 1e6 is the identity).
    *
    * Rules, each STATED: the multiplicative form needs STRICTLY
    * POSITIVE values — y ≤ 0 REFUSES (a ratio season against zero is
    * undefined; R refuses the same way); if a trajectory drives a
    * state variable out of the positive domain (ℓ+b ≤ 0 with the
    * divisor about to be consumed, or a seasonal slot to 0), the
    * group's REMAINING rows emit NULL state ("left the multiplicative
    * domain" — the [[Survival.kaplanMeierCI]] poisoned-rows stance,
    * deterministic and replayable, never a crash or a fake number).
    * Periods must be CONSECUTIVE; duplicates REFUSE; groups with ≤ m
    * observations emit warm-up rows only.
    *
    * Scale shape = [[holtWintersBacktest]]: the [[StepTable]] driver
    * fold, the non-positive value refusal checked first. Output:
    * `(grp, p, y_micro, forecast_micro, err_micro, level_micro,
    * trend_micro, season_micro)`. */
  def holtWintersMultBacktest(df: DataFrame, group: Column,
      period: Column, valueMicro: Column, m: Int, alphaMicro: Long,
      betaMicro: Long, gammaMicro: Long,
      maxSteps: Int = 100000): DataFrame = {
    require(m >= 2 && m <= 10000,
      s"season length m must be in [2, 10000], got $m")
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    require(betaMicro >= 0 && betaMicro <= 1000000L,
      s"betaMicro must be in [0, 1e6], got $betaMicro")
    require(gammaMicro >= 0 && gammaMicro <= 1000000L,
      s"gammaMicro must be in [0, 1e6], got $gammaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps Holt-Winters steps — bucket periods upstream " +
        "(the bounded driver-fold stance)",
      Broken(col("__y") <= 0,
        "holtWintersMultBacktest: non-positive value — the multiplicative " +
          "form's ratio season is undefined at y <= 0; use the additive " +
          "form or shift/clean upstream"),
      Duplicate("holtWintersMultBacktest: duplicate (group, period) " +
        "observation — two values make the forecast ambiguous; aggregate " +
        "upstream"),
      Gap((p, pp) => s"holtWintersMultBacktest: non-consecutive periods " +
        s"$p after $pp — a gap shifts season alignment; gap-fill or " +
        "re-index upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro", "trend_micro", "season_micro") { (g, rows) =>
        var warm = Vector.empty[(Long, Long)]
        var level = 0L
        var trend = 0L
        var ring = Vector.empty[Long]
        var running = false
        var poisoned = false
        def initFromWarm(): Unit = {
          val l0 = (warm.map(w => BigInt(w._2)).sum / warm.length).toLong
          level = l0; trend = 0L
          // y ≥ 1 micro ⇒ l0 ≥ 1, so the ratio init can never divide by 0
          ring = warm.map(w => (BigInt(w._2) * 1000000L / l0).toLong)
          running = true
        }
        rows.map { r =>
          val p = r.getLong(1); val y = r.getLong(2)
          if (!running) {
            warm = warm :+ ((p, y))
            if (warm.length == m) initFromWarm()
            (g, p, y, None, None, None, None, None)
          } else if (poisoned) {
            (g, p, y, None, None, None, None, None)
          } else {
            val sOld = ring.head
            // domain check BEFORE either divisor is consumed: a zero
            // seasonal slot or a non-positive implied level poisons the
            // group's remaining rows (stated — never a crash)
            if (sOld <= 0 || level + trend <= 0) {
              poisoned = true
              (g, p, y, None, None, None, None, None)
            } else {
              val f = (BigInt(level + trend) * sOld / 1000000L).toLong
              val prevLevel = level
              val deseason = (BigInt(y) * 1000000L / sOld).toLong
              level = ((BigInt(alphaMicro) * deseason +
                BigInt(1000000L - alphaMicro) * (prevLevel + trend)) /
                1000000L).toLong
              trend = ((BigInt(betaMicro) * (level - prevLevel) +
                BigInt(1000000L - betaMicro) * trend) / 1000000L).toLong
              if (level <= 0) {
                // the seasonal update's divisor is gone: emit this row's
                // forecast (it used only pre-step state), then poison
                poisoned = true
                (g, p, y, Some(f), Some(y - f), None, None, None)
              } else {
                val sNew = ((BigInt(gammaMicro) * (BigInt(y) * 1000000L /
                  level) + BigInt(1000000L - gammaMicro) * sOld) /
                  1000000L).toLong
                ring = ring.tail :+ sNew
                (g, p, y, Some(f), Some(y - f), Some(level),
                  Some(trend), Some(sNew))
              }
            }
          }
        }
      }
  }

  /** `base` `(__g, __p, …)` with the two series refusals of the lag
    * operators, read off `lag(__p)` over `w` (the lead battery's own
    * group/period window, so they add no sort): a repeated period (a
    * duplicate sorts next to its twin), then a gap. */
  private def consecutive(base: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec, op: String): DataFrame =
    Refuse.rows(base.withColumn("__prev", lag(col("__p"), 1).over(w)),
      (col("__p") === col("__prev")) -> lit(s"$op: duplicate (group, " +
        "period) observation — two values make every lag product " +
        "ambiguous; aggregate upstream"),
      (col("__p") =!= col("__prev") + 1) -> lit(s"$op: non-consecutive " +
        "periods — a gap silently shifts every lag alignment; densify or " +
        "re-index upstream"))
      .drop("__prev")

  /** X151 — sample autocorrelation function + Ljung-Box portmanteau
    * (Box & Jenkins 1970 §2.1; Ljung & Box, Biometrika 1978): the
    * white-noise diagnostic every forecast residual is published with —
    * the ETS kit (X120/X124/X127/X139/X141) reports per-step errors,
    * and THIS operator answers "is anything left in them?": r_k near 0
    * at every lag (and LB below the χ²_k quantile) certifies the model
    * captured the structure; a spike at lag k names the structure it
    * missed (weekly k = 7, monthly k = 12). Also the direct seasonality
    * probe on a raw metric before choosing X127's season length.
    *
    * Definitions, exactness-carried: r_k = Σ_t(y_t−ȳ)(y_{t+k}−ȳ) /
    * Σ_t(y_t−ȳ)². The mean makes this look irrational, but multiplying
    * numerator and denominator by n² clears every fraction:
    *   n²·num_k = n²·P_k − n·S·(H_k+T_k) + (n−k)·S²,
    *   n²·den   = n²·S2 − n·S²,
    * with P_k = Σ y_t·y_{t+k}, H_k/T_k the head/tail sums over the n−k
    * overlapping pairs, S = Σy, S2 = Σy² — ALL exact DECIMAL(38,0), so
    * `r_micro = round(1e6·num/den)` is ONE stated double chain over
    * exact operands. The Ljung-Box accumulation never touches running
    * doubles (a cross-engine FP-association trap): each lag's term is
    * FLOORED to an exact integer `t_k = (r_micro_k²·1e6) DIV (n−k)`
    * (≤ 1e18 — inside BIGINT), the cumulative sum rides DECIMAL, and
    * `lb_q_micro = round(n·(n+2)·cum/1e12)` is the one per-row chain
    * (the stated floor costs < 1e-6 per lag — presentation-grade).
    *
    * Rules, each STATED: duplicate (group, period) REFUSES; periods
    * must be CONSECUTIVE (a gap silently shifts every lag alignment —
    * the seasonal-ring stance, REFUSED); a constant series (den = 0)
    * emits NULL r/lb ("not measurable", never 0); a group emits rows
    * only for lags it can support (k ≤ n−1); maxLag ≤ 100. Budget: the
    * n²-scaled sums must fit DECIMAL(38,0), so a per-group refusal
    * fires when 3·log₁₀(n) + 2·log₁₀(max|y|) > 36.5 (conservative —
    * rescale y or shorten the window upstream).
    *
    * Scale shape: ONE per-group window sort producing all
    * maxLag lead columns at once (posexplode stacks them — lag never
    * re-sorts), one (group, lag)-keyed aggregation with map-side
    * combine, one group-keyed stats aggregation, a broadcast-sized
    * join, and one per-group lag-ordered ROWS window for the exact
    * cumulative. Output: `(grp, lag, n, r_micro, lb_q_micro)`. */
  def acfLjungBox(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, maxLag: Int = 20): DataFrame = {
    require(maxLag >= 1 && maxLag <= 100,
      s"maxLag must be in [1, 100], got $maxLag")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = series(df, group, period, valueMicro)
      // one pass over the caller's frame: the stats aggregation and the
      // lead battery read the cache; the per-lag result is eagerly
      // checkpointed before the cache drops, and every refusal fires in
      // that job
      .persist()
    try {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__p")
    val stats = Refuse.rows(base.groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__y").cast(d)).as("__S"),
        sum(col("__y").cast(d) * col("__y")).as("__S2"),
        max(abs(col("__y"))).as("__m")),
      expr("3 * log10(CAST(__n AS DOUBLE)) " +
        "+ 2 * log10(CAST(greatest(__m, 1) AS DOUBLE)) > 36.5") -> lit(
        "acfLjungBox: a group's n³·max|y|² exceeds the DECIMAL(38) budget " +
          "for the n²-scaled sums — rescale y or shorten the window " +
          "upstream"))
    val leads = consecutive(base, w, "acfLjungBox").withColumn("__ls",
      array((1 to maxLag).map(k => lead(col("__y"), k).over(w)): _*))
    val pairs = leads
      .select(col("__g"), col("__y"),
        posexplode(col("__ls")).as(Seq("__k0", "__ld")))
      .filter(col("__ld").isNotNull)
      .withColumn("lag", col("__k0") + 1)
      .groupBy("__g", "lag")
      .agg(sum(col("__y").cast(d) * col("__ld")).as("__P"),
        sum(col("__y").cast(d)).as("__H"),
        sum(col("__ld").cast(d)).as("__T"))
    val joined = pairs.join(stats.drop("__m"), "__g")
      .withColumn("__num", expr(
        """CAST(__n AS DECIMAL(38,0)) * __n * __P
          |  - CAST(__n AS DECIMAL(38,0)) * __S * (__H + __T)
          |  + (CAST(__n AS DECIMAL(38,0)) - lag) * __S * __S"""
          .stripMargin))
      .withColumn("__den", expr(
        "CAST(__n AS DECIMAL(38,0)) * __n * __S2 " +
          "- CAST(__n AS DECIMAL(38,0)) * __S * __S"))
      .withColumn("r_micro", expr(
        """CAST(CASE WHEN __den <> 0 THEN
          |  round(1000000 * CAST(__num AS DOUBLE)
          |    / CAST(__den AS DOUBLE)) END AS BIGINT)"""
          .stripMargin))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("lag")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    joined
      .withColumn("__t", expr(
        "(r_micro * r_micro * 1000000) DIV (__n - lag)"))
      .withColumn("__cum", sum(col("__t").cast(d)).over(wl))
      .withColumn("lb_q_micro", expr(
        """CAST(CASE WHEN __den <> 0 THEN
          |  round(CAST(__n AS DOUBLE) * (__n + 2)
          |    * CAST(__cum AS DOUBLE) / 1e12) END AS BIGINT)"""
          .stripMargin))
      .select(col("__g").as("grp"), col("lag"), col("__n").as("n"),
        col("r_micro"), col("lb_q_micro"))
      .localCheckpoint(true)
    } finally base.unpersist()
  }

  /** X171 — partial autocorrelation function via Durbin-Levinson
    * (Durbin 1960; Box & Jenkins §3.2.2): the OTHER half of
    * Box-Jenkins model identification — [[acfLjungBox]]'s ACF tails
    * off for an AR process and cuts off for MA (naming the MA order);
    * the PACF does the REVERSE, cutting off after lag p for an AR(p)
    * — together they are the classical order-selection pair, and a
    * forecast kit that ships one without the other leaves the analyst
    * guessing which ETS/AR structure to configure.
    *
    * Definition: pacf(k) = φ_{k,k} from the Durbin-Levinson recursion
    * over the sample autocorrelations r_1..r_K — φ_{1,1} = r₁;
    * φ_{k,k} = (r_k − Σ_j φ_{k−1,j}·r_{k−j}) / (1 − Σ_j φ_{k−1,j}·r_j)
    * with the coefficient update φ_{k,j} = φ_{k−1,j} −
    * φ_{k,k}·φ_{k−1,k−j}. The r_k are [[acfLjungBox]]'s EXACT integer
    * micros (the n²-cleared identity — same duplicate/gap/budget
    * contract); the recursion itself runs in IEEE doubles with EVERY
    * operation order stated — r = r_micro/1e6, both inner products
    * accumulate ascending-j, numerator subtraction before the
    * division — so an engine replaying the same op sequence on the
    * same integers lands on the same bits (the X145 discipline; the
    * oracle replays it with one recursive CTE carrying the φ list).
    *
    * Rules, each STATED: pacf(1) = r₁ EXACTLY (the recursion's base —
    * spec-pinned); a NULL r (constant series) → NULL pacf at every
    * lag; an exactly-zero denominator (a unit-root boundary the
    * sample hits only degenerately) → NULL pacf from that lag ON
    * (never a fake ±∞), stated and replayed; lags emit exactly where
    * the ACF emits (k ≤ n−1). More than `maxGroups` groups REFUSES —
    * the recursion is a bounded DRIVER fold over (groups × maxLag)
    * collected rows (the X138 stance: probe the budget BEFORE
    * collecting).
    *
    * Scale shape: the [[acfLjungBox]] aggregation (one window sort +
    * keyed aggregations) followed by a bounded driver fold; output is
    * a local table. Output: `(grp, lag, pacf_micro)`. */
  def pacf(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, maxLag: Int = 20,
      maxGroups: Int = 10000): DataFrame = {
    require(maxGroups >= 1 && maxGroups <= 100000,
      s"maxGroups must be in [1, 1e5], got $maxGroups")
    val acf = acfLjungBox(df, group, period, valueMicro, maxLag)
      .select(col("grp"), col("lag"), col("r_micro"))
      .persist()
    try {
      val nGroups = acf.select("grp").distinct().count()
      require(nGroups <= maxGroups,
        s"pacf: $nGroups groups > $maxGroups — the Durbin-Levinson " +
          "fold collects groups × maxLag rows; bucket or filter " +
          "upstream")
      val rows = acf.collect()
        .map(r => (r.getString(0), r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .groupBy(_._1)
      val out = Vector.newBuilder[(String, Int, Option[Long])]
      rows.toSeq.sortBy(_._1).foreach { case (g, rs) =>
        val byLag = rs.sortBy(_._2)
        val k = byLag.length
        if (byLag.exists(_._3.isEmpty)) {
          // constant series: no ACF, no PACF — visible NULL rows
          byLag.foreach { case (_, lag, _) => out += ((g, lag, None)) }
        } else {
          val r = byLag.map(_._3.get.toDouble / 1e6).toArray
          var phi = Array.empty[Double]
          var dead = false
          var kk = 1
          while (kk <= k) {
            if (dead) out += ((g, kk, None))
            else if (kk == 1) {
              phi = Array(r(0))
              out += ((g, 1, Some(byLag(0)._3.get))) // pacf(1) = r1 exact
            } else {
              // ascending-j inner products ACCUMULATED FIRST, one
              // subtraction each (the stated order — an engine doing
              // dot-then-subtract must land on the same bits)
              var dotN = 0.0
              var dotD = 0.0
              var j = 1
              while (j <= kk - 1) {
                dotN += phi(j - 1) * r(kk - j - 1)
                dotD += phi(j - 1) * r(j - 1)
                j += 1
              }
              val num = r(kk - 1) - dotN
              val den = 1.0 - dotD
              if (den == 0.0) { dead = true; out += ((g, kk, None)) }
              else {
                val pk = num / den
                val next = new Array[Double](kk)
                var i = 1
                while (i <= kk - 1) {
                  next(i - 1) = phi(i - 1) - pk * phi(kk - 1 - i)
                  i += 1
                }
                next(kk - 1) = pk
                phi = next
                out += ((g, kk, Some(math.round(1e6 * pk))))
              }
            }
            kk += 1
          }
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      out.result().toDF("grp", "lag", "pacf_micro")
    } finally acf.unpersist()
  }

  /** X167 — cross-correlation function between two aligned series
    * (Box & Jenkins §11.1; R's `ccf`): [[acfLjungBox]] asks whether a
    * series predicts ITSELF; CCF asks whether one series LEADS another
    * — "do deploys precede error spikes, and by how many periods?",
    * "does marketing spend lead signups by a week?" — the lead/lag
    * readout a root-cause dashboard is built on. For each lag
    * k ∈ [−maxLag, maxLag], r_k correlates (x_t, y_{t+k}) over their
    * overlap using FULL-series means and deviations (the classical ccf
    * normalization — the denominator does not shrink with the overlap,
    * so lags are comparable to each other). Positive k means x LEADS y
    * by k periods; negative k is the swapped role.
    *
    * Exactness (the [[acfLjungBox]] identity, two-series form):
    * multiplying through by n² clears every mean —
    * `n²·num_k = n²·P − n·S_b·H − n·S_a·T + (n−|k|)·S_a·S_b` with
    * P = Σ a_t·b_{t+|k|}, H/T the overlap's head/tail partial sums,
    * (a,b) = (x,y) for k ≥ 0 and (y,x) otherwise — ALL exact
    * DECIMAL(38,0); `r_micro = round(1e6·num / (n·√dx·√dy))` with
    * dx = n·Sxx − Sx², dy likewise, ONE stated IEEE chain (the two
    * square roots stated separately). The k = 0 row IS Pearson on the
    * aligned pairs; zero x- or y-variance → NULL r (never 0).
    *
    * Rules, each STATED: a row missing EITHER value drops whole (the
    * series must stay aligned); duplicate (group, period) REFUSES;
    * non-consecutive periods REFUSE (a gap silently shifts every
    * alignment — the [[acfLjungBox]] stance); a per-group budget
    * refusal fires at n³·max(|x|,|y|)² past the DECIMAL(38) headroom;
    * lags emit only where the overlap is non-empty (|k| ≤ n−1).
    *
    * Scale shape: ONE per-group window sort emits BOTH lead batteries
    * at once (posexplode stacks — no per-lag re-sort, no self-join),
    * keyed aggregations, one broadcast-sized stats join. Output:
    * `(grp, lag, n, r_micro)` — one row per (group, signed lag). */
  def crossCorrelation(df: DataFrame, group: Column, period: Column,
      xMicro: Column, yMicro: Column, maxLag: Int = 20): DataFrame = {
    require(maxLag >= 1 && maxLag <= 100,
      s"maxLag must be in [1, 100], got $maxLag")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(
        coalesce(group.cast("string"), lit("(null)")).as("__g"),
        period.cast("long").as("__p"), xMicro.cast("long").as("__x"),
        yMicro.cast("long").as("__y"))
      .filter(col("__p").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
      .persist()
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__g").orderBy("__p")
      val stats = Refuse.rows(base.groupBy("__g")
        .agg(count(lit(1)).as("__n"),
          sum(col("__x").cast(d)).as("__Sx"),
          sum(col("__y").cast(d)).as("__Sy"),
          sum(col("__x").cast(d) * col("__x")).as("__Sxx"),
          sum(col("__y").cast(d) * col("__y")).as("__Syy"),
          sum(col("__x").cast(d) * col("__y")).as("__Sxy"),
          greatest(max(abs(col("__x"))), max(abs(col("__y"))))
            .as("__m")),
        expr("3 * log10(CAST(__n AS DOUBLE)) " +
          "+ 2 * log10(CAST(greatest(__m, 1) AS DOUBLE)) > 36.5") -> lit(
          "crossCorrelation: a group's n³·max|v|² exceeds the DECIMAL(38) " +
            "budget for the n²-scaled sums — rescale or shorten upstream"))
      val leads = consecutive(base, w, "crossCorrelation")
        .withColumn("__ly",
          array((1 to maxLag).map(k => lead(col("__y"), k).over(w)): _*))
        .withColumn("__lx",
          array((1 to maxLag).map(k => lead(col("__x"), k).over(w)): _*))
      // positive lags: x leads y — pairs (x_t, y_{t+k})
      val pos = leads
        .select(col("__g"), col("__x"),
          posexplode(col("__ly")).as(Seq("__k0", "__ld")))
        .filter(col("__ld").isNotNull)
        .select(col("__g"), (col("__k0") + 1).as("lag"),
          col("__x").as("__a"), col("__ld").as("__b"))
      // negative lags: y leads x — pairs (y_t, x_{t+k})
      val neg = leads
        .select(col("__g"), col("__y"),
          posexplode(col("__lx")).as(Seq("__k0", "__ld")))
        .filter(col("__ld").isNotNull)
        .select(col("__g"), (-(col("__k0") + 1)).as("lag"),
          col("__y").as("__a"), col("__ld").as("__b"))
      val pairs = pos.unionAll(neg)
        .groupBy("__g", "lag")
        .agg(sum(col("__a").cast(d) * col("__b")).as("__P"),
          sum(col("__a").cast(d)).as("__H"),
          sum(col("__b").cast(d)).as("__T"))
      val zero = stats.select(col("__g"), lit(0).as("lag"),
        col("__Sxy").as("__P"), col("__Sx").as("__H"),
        col("__Sy").as("__T"))
      pairs.unionByName(zero)
        .join(stats.drop("__m"), "__g")
        // S_b multiplies the head sum H (the a-side), S_a the tail T:
        // for k >= 0 (a, b) = (x, y); for k < 0 the roles swap
        .withColumn("__Sa",
          when(col("lag") >= 0, col("__Sx")).otherwise(col("__Sy")))
        .withColumn("__Sb",
          when(col("lag") >= 0, col("__Sy")).otherwise(col("__Sx")))
        .withColumn("__num", expr(
          """CAST(__n AS DECIMAL(38,0)) * __n * __P
            |  - CAST(__n AS DECIMAL(38,0)) * __Sb * __H
            |  - CAST(__n AS DECIMAL(38,0)) * __Sa * __T
            |  + (CAST(__n AS DECIMAL(38,0)) - abs(lag)) * __Sa * __Sb"""
            .stripMargin))
        .withColumn("__dx", expr(
          "CAST(__n AS DECIMAL(38,0)) * __Sxx " +
            "- CAST(__Sx AS DECIMAL(38,0)) * __Sx"))
        .withColumn("__dy", expr(
          "CAST(__n AS DECIMAL(38,0)) * __Syy " +
            "- CAST(__Sy AS DECIMAL(38,0)) * __Sy"))
        .withColumn("r_micro", expr(
          """CAST(CASE WHEN __dx > 0 AND __dy > 0 THEN
            |  round(1000000 * CAST(__num AS DOUBLE)
            |    / (CAST(__n AS DOUBLE) * sqrt(CAST(__dx AS DOUBLE))
            |       * sqrt(CAST(__dy AS DOUBLE)))) END AS BIGINT)"""
            .stripMargin))
        .select(col("__g").as("grp"), col("lag").cast("long").as("lag"),
          col("__n").as("n"), col("r_micro"))
        .localCheckpoint(true)
    } finally base.unpersist()
  }

  private[graft] def transcriptAgg(tsCol: String, tieBreak: Seq[String],
      token: Column, sep: String): Column =
    array_join(
      transform(
        sort_array(collect_list(struct(
          (unix_micros(col(tsCol)).as("__u") +:
            tieBreak.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__tb$i") }) :+
            coalesce(token.cast("string"), lit("")).as("__tok"): _*))),
        e => e.getField("__tok")),
      sep).as("transcript")

  /** X161 — EWMA control chart (Roberts, Technometrics 1959; design
    * constants per Lucas & Saccucci 1990): the SMALL-PERSISTENT-SHIFT
    * member completing the monitoring trio — X56's rolling k-sigma
    * catches spikes, X80's CUSUM accumulates drift past a tuned slack,
    * the EWMA chart is the published in-between (a 0.5σ shift that
    * k-sigma never flags and CUSUM needs the right slack for, EWMA
    * flags in a handful of steps with λ ≈ 0.1–0.3). z_t = λ·y_t +
    * (1−λ)·z_{t−1} with z₀ = μ (the chart starts AT the in-control
    * target — the classical Phase-II contract: μ and σ come from a
    * stated baseline, not re-estimated from the data being judged);
    * control limits μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) — time-varying,
    * tightest at start (the fast-initial-response property).
    *
    * Exactness: the z recursion is [[sesBacktest]]'s fold verbatim
    * (micro units, 128-bit intermediates, TRUNCATING division by 1e6 —
    * engine-replayable with one recursive CTE). The limit half-width
    * is ONE stated IEEE chain per row over exact integer operands —
    * `hw = round(L_µ·σ_µ/1e6 · sqrt(λ/(2e6−λ) · (1 − exp(2t·ln q))))`
    * with q = (1e6−λ)/1e6 stated as exp·ln (the X145 pow discipline —
    * both engines run the identical op sequence); λ = 1e6 takes the
    * stated q = 0 branch (the power term is exactly 1, no ln(0)) and
    * the chart IS the Shewhart individuals chart — z ≡ y, constant
    * limits (the degeneracy pin). Flags compare the EXACT integer z
    * against the rounded limits: `flag ⇔ z < lcl ∨ z > ucl`.
    *
    * Rules, each STATED: duplicate (group, period) REFUSES (the X120
    * stance); NULL period/value drops; gaps are consecutive steps (no
    * calendar — bucket upstream); σ ≤ 0 or L ≤ 0 REFUSES (a chart
    * with no width is a bug, not a chart).
    *
    * Scale shape = X120: the [[StepTable]] driver fold over the bounded
    * step table — monitoring step tables are period-sized, never
    * corpus-sized. Output: `(grp, p, y_micro, z_micro, ucl_micro,
    * lcl_micro, flag)`. */
  def ewmaChart(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, lambdaMicro: Long, muMicro: Long,
      sigmaMicro: Long, lMicro: Long = 3000000L,
      maxSteps: Int = 100000): DataFrame = {
    require(lambdaMicro > 0 && lambdaMicro <= 1000000L,
      s"lambdaMicro must be in (0, 1e6], got $lambdaMicro")
    require(sigmaMicro > 0, s"sigmaMicro must be positive, got $sigmaMicro")
    require(lMicro > 0, s"lMicro must be positive, got $lMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps EWMA steps — bucket periods upstream (the " +
        "bounded driver-fold stance)",
      Duplicate("ewmaChart: duplicate (group, period) observation — two " +
        "values make the statistic ambiguous; aggregate upstream"))
      .fold("grp", "p", "y_micro", "z_micro", "ucl_micro", "lcl_micro",
        "flag") { (g, rows) =>
        var z = muMicro
        var t = 0L
        rows.map { r =>
          val p = r.getLong(1); val y = r.getLong(2)
          t += 1
          z = ((BigInt(lambdaMicro) * y +
            BigInt(1000000L - lambdaMicro) * z) / 1000000L).toLong
          // ONE stated IEEE chain: c1 = λ/(2e6−λ); c2 = 1 − exp(2t·ln q)
          // (q = 0 at λ = 1e6 → c2 = 1 exactly, the stated branch);
          // hw = round(L·σ/1e6 · sqrt(c1·c2))
          val c1 = lambdaMicro.toDouble / (2000000.0 - lambdaMicro)
          val c2 =
            if (lambdaMicro == 1000000L) 1.0
            else 1.0 - math.exp(2.0 * t *
              math.log((1000000L - lambdaMicro).toDouble / 1000000.0))
          val hw = math.round(lMicro.toDouble * sigmaMicro / 1000000.0 *
            math.sqrt(c1 * c2))
          val ucl = muMicro + hw
          val lcl = muMicro - hw
          (g, p, y, z, ucl, lcl, z < lcl || z > ucl)
        }
      }
  }

  /** X163 — Theta-method forecast backtest (Assimakopoulos &
    * Nikolopoulos, IJF 2000 — the M3 competition winner; via the
    * Hyndman & Billah 2003 equivalence: the θ = 2 theta method IS
    * simple exponential smoothing with a drift of HALF the series'
    * linear slope): the member between [[sesBacktest]] (no drift —
    * lags any ramp forever) and [[holtBacktest]] (full adaptive trend —
    * overshoots noisy ramps); half-slope drift is the empirically
    * robust middle that won M3, and the form monitoring teams deploy
    * when Holt's β is one knob too many.
    *
    * CAUSAL contract: the slope is re-estimated each step from the
    * EXACT prefix sums of everything seen so far (never the full
    * series — an in-sample fit would leak the future into the
    * backtest): with step index i = 1..k−1 and micro values y,
    * `drift = (k'·Σiy − Σi·Σy) DIV (2·(k'·Σi² − (Σi)²))` over the
    * prefix (k' = k−1), ONE truncating division folding the ½ into
    * the denominator (one floor, not two — stated); the level is
    * [[sesBacktest]]'s fold VERBATIM (plain SES on y — the H&B form
    * adds drift in the FORECAST only); `ŷ_k = ℓ_{k−1} + drift_{k−1}`.
    * Fewer than 2 prefix points → drift 0 (stated), so the first two
    * forecasts ARE SES's. Degeneracy pin: a constant series has zero
    * slope at every prefix and the fold IS [[sesBacktest]] term for
    * term (spec-pinned).
    *
    * Engine-replayable: the level is one recursive CTE (the X120
    * contract); the drift needs NO recursion — prefix sums are plain
    * cumulative windows over the step index, so the oracle replays
    * the whole trajectory with one CTE + four window sums. Duplicate
    * (group, period) REFUSED; NULL drops; gaps are consecutive steps
    * (no calendar — bucket upstream).
    *
    * Scale shape = X120: the [[StepTable]] driver fold (prefix sums
    * carried as BigInt — O(1) per step). Output: `(grp, p, y_micro,
    * forecast_micro, err_micro, level_micro, drift_micro)`. */
  def thetaBacktest(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, alphaMicro: Long,
      maxSteps: Int = 100000): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    steps(df, group, period, valueMicro, maxSteps,
      s"more than $maxSteps theta steps — bucket periods upstream (the " +
        "bounded driver-fold stance)",
      Duplicate("thetaBacktest: duplicate (group, period) observation — " +
        "two values make the forecast ambiguous; aggregate upstream"))
      .fold("grp", "p", "y_micro", "forecast_micro", "err_micro",
        "level_micro", "drift_micro") { (g, rows) =>
        var level = 0L
        var k = 0L
        var si, sy, siy, sii = BigInt(0)
        rows.map { r =>
          val p = r.getLong(1); val y = r.getLong(2)
          k += 1
          // drift from the prefix 1..k−1 (causal; 0 under 2 points)
          val drift =
            if (k <= 2) 0L
            else {
              val kp = BigInt(k - 1)
              val num = kp * siy - si * sy
              val den = 2 * (kp * sii - si * si)
              (num / den).toLong // BigInt / truncates toward zero
            }
          val row =
            if (k == 1) {
              level = y // ℓ₁ = y₁, the X120 start
              (g, p, y, None, None, level, 0L)
            } else {
              val f = level + drift
              level = ((BigInt(alphaMicro) * y +
                BigInt(1000000L - alphaMicro) * level) / 1000000L).toLong
              (g, p, y, Some(f), Some(y - f), level, drift)
            }
          si += BigInt(k); sy += BigInt(y)
          siy += BigInt(k) * y; sii += BigInt(k) * k
          row
        }
      }
  }

  /** X166 — classical additive seasonal decomposition (the
    * moving-average method of Kendall & Stuart; R's `decompose()`,
    * the readout behind every "trend vs seasonality vs noise" chart):
    * [[acfLjungBox]] DETECTS structure in a series and
    * [[holtWintersBacktest]] FORECASTS with it — this SHOWS it:
    * y = trend + seasonal + remainder, per group. trend is the
    * centered moving average over one season (length m; for even m
    * the classical half-weighted 2×m form — (y_{t−h} + y_{t+h} +
    * 2·Σ middle) / 2m with h = m/2), seasonal indexes are the
    * per-position means of the detrended series RE-CENTERED to sum
    * ~0 (position = p mod m — calendar-anchored, so the index is a
    * function of the PERIOD, not of row order), remainder is what's
    * left.
    *
    * Exactness: every step is integer micro arithmetic with ONE
    * truncating division each (toward zero on either sign, the X86
    * shared semantics): trend = windowed DECIMAL sum DIV m (odd) or
    * DIV 2m (even, with the edge terms weighted once and the middle
    * twice); s̄_j = Σ detrended_j DIV n_j; the centering adjustment =
    * Σ_j s̄_j DIV m; seasonal_j = s̄_j − adj; remainder = y − trend −
    * seasonal. Engine-replayable with three SQL windows/aggregations
    * — no recursion anywhere.
    *
    * Rules, each STATED: trend (and hence seasonal contribution and
    * remainder) is NULL at the h-row edges — the classical method
    * does not fabricate edge trend (no one-sided window); periods
    * must be CONSECUTIVE per group (a gap would silently misalign
    * the window and the season positions — REFUSED, the
    * [[holtWintersBacktest]] calendar stance); duplicate (group,
    * period) REFUSES; NULL drops; a group shorter than m + 1 rows
    * has no fully-windowed row and emits all-NULL trend; season
    * positions never observed in the detrended region contribute no
    * index (their rows get NULL seasonal — visible, never a fake 0);
    * m ∈ [2, 1000]; |y| ≤ 1e15 REFUSED above (the window-sum
    * budget).
    *
    * Scale shape: ONE per-group ordered window (the centered MA) +
    * one (group, position) keyed aggregation + one group rollup +
    * two broadcast-sized joins back — no self-joins, no driver
    * state. Output: one row per observation — `(grp, p, y_micro,
    * trend_micro, seasonal_micro, remainder_micro)`. */
  def seasonalDecompose(df: DataFrame, group: Column, period: Column,
      valueMicro: Column, m: Int): DataFrame = {
    require(m >= 2 && m <= 1000, s"m must be in [2, 1000], got $m")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
    val base = series(df, group, period, valueMicro)
      .persist()
    try {
      val probe = base.groupBy("__g")
        .agg(count(lit(1)).as("__n"), min(col("__p")).as("__lo"),
          max(col("__p")).as("__hi"), countDistinct(col("__p")).as("__dp"),
          max(abs(col("__y"))).as("__my"))
        .agg(max(when(col("__dp") =!= col("__n"), 1L).otherwise(0L))
          .as("__dup"),
          max(when(col("__hi") - col("__lo") + 1 =!= col("__n"), 1L)
            .otherwise(0L)).as("__gap"),
          coalesce(max(col("__my")), lit(0L)).as("__maxy"))
        .collect()(0)
      require(probe.getLong(0) == 0,
        "seasonalDecompose: duplicate (group, period) observation — " +
          "aggregate upstream")
      require(probe.getLong(1) == 0,
        "seasonalDecompose: gapped periods — the centered window and " +
          "the season positions would silently misalign; gap-fill or " +
          "bucket upstream")
      require(probe.getLong(2) <= 1000000000000000L,
        "seasonalDecompose: |y| > 1e15 — the window-sum DECIMAL budget")
      val h = m / 2
      val wt = w.partitionBy("__g").orderBy("__p")
      val trended =
        if (m % 2 == 1)
          base.withColumn("__win",
              sum(col("__y").cast(d)).over(wt.rowsBetween(-h, h)))
            .withColumn("__wn",
              count(lit(1)).over(wt.rowsBetween(-h, h)))
            .withColumn("__trend", when(col("__wn") === m, expr(
              s"CAST((__win - __win % $m) / $m AS BIGINT)")))
        else
          base.withColumn("__mid",
              sum(col("__y").cast(d)).over(wt.rowsBetween(-(h - 1), h - 1)))
            .withColumn("__lo2", lag(col("__y"), h).over(wt))
            .withColumn("__hi2", lead(col("__y"), h).over(wt))
            .withColumn("__wn", count(lit(1)).over(wt.rowsBetween(-h, h)))
            .withColumn("__trend",
              when(col("__wn") === m + 1, expr(
                s"""CAST(((__lo2 + __hi2 + 2 * __mid)
                   |  - (__lo2 + __hi2 + 2 * __mid) % ${2 * m})
                   | / ${2 * m} AS BIGINT)""".stripMargin)))
      val det = trended
        .withColumn("__pos", pmod(col("__p"), lit(m.toLong)))
        .withColumn("__d", col("__y") - col("__trend"))
      val sbar = det.filter(col("__d").isNotNull)
        .groupBy("__g", "__pos")
        .agg(sum(col("__d").cast(d)).as("__sd"),
          count(lit(1)).as("__nj"))
        .withColumn("__sbar", expr(
          "CAST((__sd - __sd % __nj) / __nj AS BIGINT)"))
      val adj = sbar.groupBy("__g")
        .agg(sum(col("__sbar").cast(d)).as("__ss"))
        .withColumn("__adj", expr(
          s"CAST((__ss - __ss % $m) / $m AS BIGINT)"))
        .select("__g", "__adj")
      det
        // (groups × m)- and group-sized frames: keyed joins, AQE
        // broadcasts them when they fit — not forced (groups are
        // unbounded)
        .join(sbar.select(col("__g"), col("__pos"), col("__sbar")),
          Seq("__g", "__pos"), "left")
        .join(adj, Seq("__g"), "left")
        .withColumn("seasonal_micro",
          when(col("__sbar").isNotNull, col("__sbar") - col("__adj")))
        .withColumn("remainder_micro",
          col("__y") - col("__trend") - col("seasonal_micro"))
        .select(col("__g").as("grp"), col("__p").as("p"),
          col("__y").as("y_micro"), col("__trend").as("trend_micro"),
          col("seasonal_micro"), col("remainder_micro"))
        .localCheckpoint(true)
    } finally base.unpersist()
  }
}
