package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Refuse

/** X84 — semi-structured JSON key-path profiling: the schema-drift radar a
  * JSON lake needs before anything else can be built on it. Raw event
  * payloads, API dumps, and scraped metadata arrive as JSON text whose
  * shape nobody governs; the first question is always "what paths exist,
  * how often, and with what types" — the inference step behind every
  * schema-on-read system (Spark's own JSON inference samples the corpus to
  * answer exactly this, then throws the census away; Snowflake/BigQuery
  * ship it as a profiling view). The census drives ingestion contracts
  * (X8 validation rules), drift alarms (a path's presence rate moving
  * between batches — X22's PSI over this output), and flattening plans.
  *
  * Built on Spark 4's native variant machinery — `try_parse_json` +
  * `variant_get(v, '$', 'map<string,variant>')` as the one dynamic-key
  * recursion primitive (no UDF, no driver-side JSON walking, no lambda):
  * each level is one `explode` generator step that turns object members
  * into (path, variant) rows, `schema_of_variant` classifies each value
  * once, and one path-keyed aggregation with map-side combine produces
  * the census. Recursion depth is a bounded config (`maxDepth` levels of
  * object nesting), so the plan is a fixed chain of `maxDepth` map-only
  * generator steps — fan-out per row = its key count per level, never
  * corpus-squared.
  *
  * Job shape: the call starts no Spark job. The total and the refusal of
  * an empty input ("pathProfile: empty input", a `raise_error`) live in
  * the returned plan and fire at action time.
  *
  * Semantics: an explicit JSON `null` is PRESENT with type `null`
  * (absent-vs-null is the drift signal that matters most — a field going
  * null is an upstream bug, a field disappearing is a schema change);
  * arrays are counted as `array` but not walked (explode elements
  * upstream and re-profile when element shape matters); unparseable
  * non-null text lands in a `(malformed)` row instead of vanishing; a
  * path's `present_micro` is `n·1e6 DIV total` over ALL input rows. Keys
  * containing `.` concatenate ambiguously into the path string (the flat
  * census stays correct; rename such keys upstream if path strings must
  * be parseable). All counts are exact integers — engine-replayable.
  *
  * Output: one row per discovered path (plus `$` for the root and
  * `(malformed)` when present):
  * `(path, n, n_object, n_array, n_string, n_number, n_boolean, n_null,
  * present_micro)`. */
object JsonProfile {

  /** The one type classifier both the census and its tests pin: variant
    * schema string → {object, array, string, number, boolean, null}. The
    * caller projects `schema_of_variant` into a column of its own first:
    * inlined, the CASE below would run it once per branch it tests. */
  private def typeOf(t: Column): Column =
    when(t.startsWith("OBJECT"), "object")
      .when(t.startsWith("ARRAY"), "array")
      .when(t === "STRING", "string")
      .when(t.startsWith("DECIMAL") || t === "BIGINT" || t === "DOUBLE" ||
        t === "FLOAT", "number")
      .when(t === "BOOLEAN", "boolean")
      .otherwise("null") // VOID — the explicit JSON null

  def pathProfile(df: DataFrame, json: Column, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 8,
      s"maxDepth must be in [1, 8], got $maxDepth")
    val spark = df.sparkSession
    // Spread rows before the per-row variant parse: scan parallelism is
    // row-group-bounded (a single-row-group file is ONE task), and
    // try_parse_json + the member walk is the map-heavy shape that must
    // ride every core. ROUND-ROBIN (placement-independent — the census is
    // a keyed aggregation): a payload-keyed spread would send all
    // identical documents (boilerplate/empty objects, common in real
    // corpora) to ONE partition. The partition count is EXPLICIT
    // (defaultParallelism — the core count, a scale knob, never a
    // constant): a count-less repartition is AQE-coalescible, and a
    // ~MB-sized shuffle coalesces back to ONE partition.
    val parsed = df.select(json.cast("string").as("__j"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("__j").isNull.as("__absent"),
        expr("try_parse_json(__j)").as("__v"))
      .select(col("__absent"), col("__v"), schema_of_variant(col("__v")).as("__s"))
      .select(col("__absent"), col("__v"), typeOf(col("__s")).as("__t"))
    // The walk is `maxDepth` generator steps over entry rows
    // (path, tag, v, r). Level 0 is one row per input row: `$` for a parsed
    // document, `(malformed)` for unparseable non-null text, a null path
    // for a NULL input (counted into the total only). `v` holds an object
    // still to open and is null otherwise; `r` is 1 on each input row's
    // level-0 entry, so the census total is sum(r).
    val root = parsed.select(
      when(col("__v").isNotNull, lit("$"))
        .when(!col("__absent"), lit("(malformed)")).as("path"),
      when(col("__v").isNotNull, col("__t"))
        .when(!col("__absent"), lit("malformed")).as("tag"),
      when(col("__t") === "object", col("__v")).as("v"),
      lit(1L).as("r"))
    // One step explodes each row into itself, finished (carried forward
    // under a null variant), plus the members of its open object, each
    // typed once. Members come from a direct variant→map read: one parse
    // of the level, no lambda, so nothing runs interpreted.
    val self = struct(lit(null).cast("string").as("key"),
      lit(null).cast("variant").as("value"))
    def step(level: DataFrame): DataFrame = level
      .select(col("path"), col("tag"), col("r"), explode(
        when(col("v").isNull, array(self)).otherwise(concat(array(self),
          map_entries(expr("variant_get(v, '$', 'map<string,variant>')")))))
        .as("__m"))
      .select(col("path"), col("tag"), col("r"), col("__m.key").as("__k"),
        col("__m.value").as("__mv"), schema_of_variant(col("__m.value")).as("__ms"))
      .select(col("path"), col("tag"), col("r"), col("__k"), col("__mv"),
        typeOf(col("__ms")).as("__mt"))
      .select(
        when(col("__k").isNull, col("path"))
          .otherwise(concat(col("path"), lit("."), col("__k"))).as("path"),
        when(col("__k").isNull, col("tag")).otherwise(col("__mt")).as("tag"),
        when(col("__k").isNotNull && col("__mt") === "object", col("__mv"))
          .as("v"),
        when(col("__k").isNull, col("r")).otherwise(0L).as("r"))
    val entries = (1 to maxDepth).foldLeft(root)((level, _) => step(level))
      .select(col("path"), col("tag"), col("r"))
    // One sentinel row (null path, r = 0) keeps the census non-empty on
    // empty input, so the refusal below runs in the plan at action time
    // instead of costing a count job at call time. Its path is NULL but
    // not a literal: on empty input the whole plan is constants, and a
    // literal NULL path would let the optimizer fold the sentinel's drop
    // below into pruning the plan, refusal included.
    val sentinel = spark.range(0, 1, 1, 1).select(
      when(col("id") < 0, col("id").cast("string")).as("path"),
      lit(null).cast("string").as("tag"), lit(0L).as("r"))
    def cnt(t: String) = sum(when(col("tag") === t, 1L).otherwise(0L))
    val census = entries.unionByName(sentinel).groupBy("path")
      .agg(count(lit(1)).as("n"),
        cnt("object").as("n_object"), cnt("array").as("n_array"),
        cnt("string").as("n_string"), cnt("number").as("n_number"),
        cnt("boolean").as("n_boolean"), cnt("null").as("n_null"),
        sum("r").as("__rows"))
      .withColumn("__total", sum("__rows").over(Window.partitionBy()))
    Refuse.rows(census, (col("__total") === 0) -> lit("pathProfile: empty input"))
      .filter(col("path").isNotNull)
      .select(col("path"), col("n"), col("n_object"), col("n_array"),
        col("n_string"), col("n_number"), col("n_boolean"), col("n_null"),
        expr("n * 1000000 DIV __total").as("present_micro"))
  }
}
