package graft
import java.nio.file.{Files, Paths}
import graft.tools.Harness.json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args(2+): optional query-name filter — dev iteration on new queries
    // without re-running the whole suite (the driver always passes exactly
    // sfDir and outDir, so the gate contract is unchanged)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = graft.tools.Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // A thrown query must still land in the correctness report as a
          // RED row, not vanish from it: round 7 lost 15 erroring queries
          // and the report read as all-green at 129/144. Write a 1-row
          // marker frame whose schema can't match any oracle — the
          // driver's compare then records rows/schema/hash=false with the
          // error text visible in the dumped cell.
          try {
            import spark.implicits._
            Seq(("__VERIFY_ERROR__: " + String.valueOf(e.getMessage)).take(500))
              .toDF("__verify_error__").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case inner: Throwable =>
            System.err.println(s"[verify] $name marker write failed: ${inner.getMessage}")
          }
        }
      }
    }
    val sql = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql)
    spark.stop()
  }
}
