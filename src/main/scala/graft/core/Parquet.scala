package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet read of the engine: a scan whose schema comes from one
  * driver-side footer read, so building the DataFrame starts no Spark job.
  *
  * A bare `spark.read.parquet(path)` infers its schema with
  * `mergeSchemasInParallel`, a Spark job even for one file (~0.1 s of
  * scheduling per read on a warm local session). Without schema merging
  * that job reads exactly one footer: the first `_common_metadata`, else
  * the first `_metadata`, else the first data file by path, under the
  * hidden-file rules of Spark's file listing. [[scan]] reads that same
  * footer here, converts it as `ParquetFileFormat.readSchemaFromFooter`
  * does (Spark's row-metadata JSON when present, else the session's
  * `ParquetToSparkSchemaConverter`) and hands the schema to the reader.
  * Partition columns are still discovered from the directory names.
  *
  * The file is found by descending toward the smallest path one directory
  * at a time, so a deep or wide table costs O(depth) listings, never a
  * recursive listing of the whole tree. Summary files are looked for only
  * in the directories that descent visits (writers put them at the root).
  *
  * Spark's own inference still runs when schema merging is on (the
  * `mergeSchema` option or `spark.sql.parquet.mergeSchema`), when any
  * other reader option than `basePath` is given, for glob paths, and when
  * no data file is found or its footer cannot be read. A missing path or
  * an empty directory therefore raises Spark's own exception. */
object Parquet {

  def scan(spark: SparkSession, paths: String*): DataFrame =
    scan(spark, Map.empty[String, String], paths: _*)

  /** [[scan]] with reader options, e.g. `basePath` for a file list of a
    * partitioned table. */
  def scan(spark: SparkSession, options: Map[String, String],
      paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** The footer of one parquet file, read on the driver. */
  def footer(file: FileStatus, conf: Configuration): ParquetMetadata = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try rd.getFooter finally rd.close()
  }

  private def footerSchema(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    val inferred = paths.isEmpty || sqlConf.isParquetSchemaMergingEnabled ||
      !options.keySet.forall(_ == "basePath") ||
      paths.exists(_.exists("{}[]*?\\".contains(_)))
    if (inferred) None
    else try {
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      val summaries = Seq.newBuilder[FileStatus]
      val data = paths.flatMap { p =>
        val root = new Path(p)
        firstData(root.getFileSystem(conf), root, summaries)
      }
      val summary = summaries.result()
      def named(n: String) =
        summary.filter(_.getPath.getName == n).minByOption(_.getPath.toString)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(data.minByOption(_.getPath.toString))
        .map { f =>
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, footer(f, conf)),
            new ParquetToSparkSchemaConverter(sqlConf))
        }
    } catch { case NonFatal(_) => None }
  }

  /** The smallest-path data file under `dir` (or `dir` itself, if it is a
    * file). Children are tried in the order of the leaf paths they hold,
    * so the first data file met is the smallest; the summary files of
    * every directory listed on the way are added to `summaries`. */
  private def firstData(fs: FileSystem, dir: Path,
      summaries: scala.collection.mutable.Growable[FileStatus]): Option[FileStatus] = {
    val (summary, kids) = fs.listStatus(dir).toSeq
      .filterNot(st => hidden(st.getPath.getName))
      .partition(st => st.isFile && isSummary(st.getPath.getName))
    summaries ++= summary
    kids.sortBy(st => st.getPath.toString + (if (st.isDirectory) "/" else ""))
      .iterator
      .flatMap(st => if (st.isFile) Some(st) else firstData(fs, st.getPath, summaries))
      .nextOption()
  }

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`): `_`
    * (outside partition directories) and `.` names and in-flight copies are
    * skipped, except the summary files. */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }
}
