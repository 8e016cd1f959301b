package graft.ingest

import java.io.{BufferedInputStream, FileOutputStream}
import java.net.URL
import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{Parquet, Table}

/** Ingest utilities (SURVEY.md §2.1 S1-S2): the reference's download/unzip
  * and embulk-CSV-load operators re-expressed for a Spark pipeline. These are
  * driver-side landing steps — everything after the landing dir is a
  * distributed `spark.read`.
  */
object Ingest {

  /** S1 — `DownloadUnzipOperator` (reference operators/download.py:8-22:
    * `wget $url` to a mktemp file, `unzip -o` into dir): fetch a zip URL and
    * extract into `dirPath`. Returns extracted file paths.
    *
    * Zip-slip safe: entries resolving outside `dirPath` are rejected. */
  def downloadUnzip(url: String, dirPath: String): Seq[Path] = {
    val tmp = Files.createTempFile("graft-download", ".zip")
    try {
      val in = new BufferedInputStream(new URL(url).openStream())
      try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      unzip(tmp, Paths.get(dirPath))
    } finally Files.deleteIfExists(tmp)
  }

  /** Extract a local zip into `dir` (the unzip half, separable for tests —
    * this environment has no egress). */
  def unzip(zipFile: Path, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    val zin = new ZipInputStream(new BufferedInputStream(Files.newInputStream(zipFile)))
    val out = Seq.newBuilder[Path]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val target = dir.resolve(e.getName).normalize()
        require(target.startsWith(dir.normalize()), s"zip entry escapes target dir: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          val fos = new FileOutputStream(target.toFile)
          try zin.transferTo(fos) finally fos.close()
          out += target
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  /** S2 — `EmbulkOperator` analog (reference operators/embulk.py:8-24 runs an
    * embulk YAML config: CSV parser options + typecasts + target table). The
    * embulk config surface maps onto DataFrameReader options + an explicit
    * schema; the load lands as a parquet [[Table]].
    *
    * Scale: the CSV scan is distributed and splittable (no driver
    * bottleneck); schema is explicit — inference would scan twice. */
  /** One CSV reader definition serves both the direct and the LoadSpec-driven
    * paths — a parser-option change cannot silently apply to only one. */
  private def csvFrame(spark: SparkSession, csvPath: String, schema: StructType,
      header: Boolean, delimiter: String, nullValue: String): org.apache.spark.sql.DataFrame =
    spark.read
      .schema(schema)
      .option("header", header)
      .option("sep", delimiter)
      .option("nullValue", nullValue)
      .option("mode", "PERMISSIVE")
      .csv(csvPath)

  def csvLoad(
      spark: SparkSession,
      csvPath: String,
      dest: Table,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ",",
      nullValue: String = ""): Table = {
    dest.overwrite(csvFrame(spark, csvPath, schema, header, delimiter, nullValue))
    dest
  }

  /** JSON-Lines load — the dominant LLM-corpus interchange format (one JSON
    * document per line; .jsonl/.ndjson). Distributed and splittable like the
    * CSV path; the explicit schema avoids inference's double scan. Corrupt
    * lines land in a `_corrupt_record` column (appended to the schema if the
    * caller didn't declare one — PERMISSIVE mode only captures them when the
    * schema carries that field; without it they'd silently become all-null
    * rows) instead of failing the load — at web-corpus scale some malformed
    * lines are a certainty. */
  def jsonlLoad(spark: SparkSession, jsonlPath: String, dest: Table,
      schema: StructType): Table = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    dest.overwrite(
      spark.read.option("mode", "PERMISSIVE").schema(withCorrupt).json(jsonlPath))
    dest
  }

  /** JSON-Lines load with schema inference (two passes over the input —
    * prefer [[jsonlLoad]]'s explicit schema for large corpora; inferred
    * object shapes also union across files, which explicit schemas pin). */
  def jsonlLoadInferred(spark: SparkSession, jsonlPath: String, dest: Table): Table = {
    dest.overwrite(spark.read.option("mode", "PERMISSIVE").json(jsonlPath))
    dest
  }

  /** CSV load with schema inference (embulk's `guess` mode). Two passes over
    * the input — prefer the explicit-schema overload for large data. */
  def csvLoadInferred(spark: SparkSession, csvPath: String, dest: Table,
      header: Boolean = true): Table = {
    dest.overwrite(spark.read.option("header", header).option("inferSchema", true).csv(csvPath))
    dest
  }

  /** ORC load — the other columnar warehouse interchange format (Hive/Trino
    * exports routinely arrive as ORC). Schema travels in the files; the scan
    * is distributed, splittable, and supports the same predicate/column
    * pushdown as parquet, so a filtered load prunes stripes at the source. */
  def orcLoad(spark: SparkSession, orcPath: String, dest: Table): Table = {
    dest.overwrite(spark.read.orc(orcPath))
    dest
  }

  /** Parquet load ACROSS schema versions — the long-lived-corpus reality:
    * batches landed over months gain columns (a new quality score, a new
    * provenance field), and a reload must union them BY NAME with nulls for
    * fields a file predates, not fail or silently bind by position.
    * `mergeSchema` reconciles footers at planning time (one footer read per
    * file — cheap next to the scan; it is off by default in Spark because
    * that planning cost is wasted when schemas are known-identical).
    * Same-named fields must carry IDENTICAL types — the footer merge does
    * not promote (int vs long already refuses); any mismatch fails the
    * load loudly at planning, never coerces. Widen a column by rewriting
    * old batches, not by leaning on the reader. */
  def parquetEvolvedLoad(spark: SparkSession, parquetPath: String,
      dest: Table): Table = {
    dest.overwrite(Parquet.scan(spark, Map("mergeSchema" -> "true"), parquetPath))
    dest
  }

  /** Raw-text load: one row per line (`value` column plus the source file
    * path for provenance) — the C4/CommonCrawl-style entry point where the
    * corpus is plain text files and ALL structure comes later (language ID,
    * quality scoring, dedup). Splittable by line like the CSV path;
    * `wholetext = true` instead yields one row per FILE (for formats where
    * a document is a file, e.g. scraped HTML dumps — unsplittable, so pair
    * it with many small-ish files, not one giant one). */
  def textLoad(spark: SparkSession, textPath: String, dest: Table,
      wholetext: Boolean = false): Table = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    dest.overwrite(
      spark.read.option("wholetext", wholetext).text(textPath)
        .select(col("value"), input_file_name().as("source_file")))
    dest
  }

  /** One column of a [[LoadSpec]], with embulk's type vocabulary
    * (`string | long | double | boolean | timestamp | date`). */
  final case class ColumnSpec(name: String, colType: String) {
    def toField: org.apache.spark.sql.types.StructField = {
      import org.apache.spark.sql.types._
      val dt = colType match {
        case "string" => StringType
        case "long" => LongType
        case "int" => IntegerType
        case "double" => DoubleType
        case "boolean" => BooleanType
        case "timestamp" => TimestampType
        case "date" => DateType
        case other => throw new IllegalArgumentException(
          s"unknown column type '$other' for '$name' " +
            "(expected string|long|int|double|boolean|timestamp|date)")
      }
      org.apache.spark.sql.types.StructField(name, dt)
    }
  }

  /** Declarative CSV load specification — the `EmbulkOperator` config-file
    * analog (reference operators/embulk.py:8-24 executes a YAML config:
    * input file + parser options + typed columns + output table). The same
    * declaration as data: build it in code or deserialize from your config
    * store, then [[load]] executes it. `mode` is `overwrite` (embulk's
    * replace) or `append` (embulk's insert). */
  final case class LoadSpec(
      path: String,
      dir: String,
      table: String,
      columns: Seq[ColumnSpec],
      header: Boolean = true,
      delimiter: String = ",",
      nullValue: String = "",
      mode: String = "overwrite")

  /** Execute a [[LoadSpec]]: distributed CSV scan with the declared schema,
    * landing as a parquet [[Table]]. */
  def load(spark: SparkSession, spec: LoadSpec): Table = {
    require(spec.mode == "overwrite" || spec.mode == "append",
      s"mode must be overwrite|append, got '${spec.mode}'")
    val dest = Table(spark, spec.dir, spec.table)
    val df = csvFrame(spark, spec.path, StructType(spec.columns.map(_.toField)),
      spec.header, spec.delimiter, spec.nullValue)
    if (spec.mode == "append") dest.append(df) else dest.overwrite(df)
    dest
  }
}
