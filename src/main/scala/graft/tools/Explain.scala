package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan dumper: writes `.explain("formatted")` for named queries to
  * `plans/<tag>/<query>_<suffix>.txt` so optimization rounds can commit
  * before/after plan evidence. Run:
  * `sbt "runMain graft.tools.Explain <suffix> <name-or-prefix>..."`
  * e.g. `sbt "runMain graft.tools.Explain before q227 q314"`.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLANS_DIR
  * (default plans/r18). Queries whose fn runs eager probes execute them
  * during planning — harmless, this tool is never timed. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <suffix> <name-or-prefix>...")
    val suffix = args(0)
    val hits = Harness.select(args.toSeq.drop(1))
    val sfDir = Harness.sfDir
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18")
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    hits.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"[explain] wrote ${name}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
