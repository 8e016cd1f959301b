package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DAG composition (SURVEY.md §7.4): the Airflow-DAG analog, Spark-first.
  *
  * In the reference, tasks exchange data exclusively through materialized
  * Postgres tables (operator A writes table T, operator B reads it —
  * README.md:6-17). On Spark the chained transforms ARE the DAG: a stage's
  * output is a lazy plan, and Catalyst optimizes ACROSS stage boundaries
  * (filter from stage 3 pushes into stage 1's scan). Materialization becomes
  * an explicit opt-in per stage — exactly where you want a durable
  * checkpoint or plan-complexity cut, not an implicit tax on every edge.
  *
  * Scale notes: `materialize` writes parquet and re-reads it, which (a)
  * truncates plan/lineage growth on long DAGs, (b) lets downstream stages
  * re-partition-prune a smaller artifact, (c) gives failure recovery points
  * on multi-hour 100 TB runs.
  */
final case class Stage(
    name: String,
    deps: Seq[String],
    fn: Map[String, DataFrame] => DataFrame)

final class Pipeline(stages: Seq[Stage]) {
  require(stages.map(_.name).distinct.size == stages.size, "duplicate stage names")
  private val byName = stages.map(s => s.name -> s).toMap
  stages.foreach(s => s.deps.foreach(d =>
    require(byName.contains(d), s"stage ${s.name} depends on unknown stage $d")))

  /** Topological order (deterministic: declaration order among ready stages). */
  private[pipeline] def topoOrder: Seq[Stage] = {
    val done = mutable.LinkedHashSet[String]()
    val remaining = mutable.Queue(stages: _*)
    var progress = true
    while (remaining.nonEmpty && progress) {
      progress = false
      for (_ <- remaining.indices) {
        val s = remaining.dequeue()
        if (s.deps.forall(done.contains)) { done += s.name; progress = true }
        else remaining.enqueue(s)
      }
    }
    require(remaining.isEmpty, s"dependency cycle among: ${remaining.map(_.name).mkString(", ")}")
    done.toSeq.map(byName)
  }

  /** Run the DAG; returns every stage's output by name.
    *
    * @param materialize stage names to checkpoint as parquet under
    *        `checkpointDir` (task-boundary semantics for just those edges). */
  def run(
      spark: SparkSession,
      checkpointDir: Option[String] = None,
      materialize: Set[String] = Set.empty): Map[String, DataFrame] = {
    require(materialize.isEmpty || checkpointDir.nonEmpty,
      "materialize requires a checkpointDir")
    val unknown = materialize -- byName.keySet
    require(unknown.isEmpty,
      s"materialize names unknown stages: ${unknown.mkString(", ")}")
    val results = mutable.LinkedHashMap[String, DataFrame]()
    topoOrder.foreach { s =>
      val out = s.fn(s.deps.map(d => d -> results(d)).toMap)
      val finalDf =
        if (materialize.contains(s.name)) {
          val path = s"${checkpointDir.get}/${s.name}.parquet"
          out.write.mode("overwrite").parquet(path)
          graft.core.Parquet.scan(spark, path)
        } else out
      results(s.name) = finalDf
    }
    results.toMap
  }
}

object Pipeline {
  /** Linear pipeline: each stage feeds the next (the common README shape). */
  def linear(first: (String, SparkSession => DataFrame),
      rest: (String, DataFrame => DataFrame)*): SparkSession => Pipeline = spark => {
    val head = Stage(first._1, Nil, _ => first._2(spark))
    val tail = rest.zipWithIndex.map { case ((name, fn), i) =>
      val prev = if (i == 0) first._1 else rest(i - 1)._1
      Stage(name, Seq(prev), deps => fn(deps(prev)))
    }
    new Pipeline(head +: tail)
  }
}
