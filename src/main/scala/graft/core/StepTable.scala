package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bounded step table of the driver-side recurrence operators (the
  * TimeSeries backtests and charts, the Survival estimators): a fold
  * whose state at one step depends on the step before runs on the
  * driver over `steps` collected in `keys` order. `keys.head` is the
  * group, a string column; rows are folded one group at a time.
  * `maxSteps` bounds the collected rows, and with them driver memory:
  * more rows refuse with `tooMany` (the bounded driver-fold stance), so
  * pass bucketed periods and durations, not raw time.
  *
  * Job shape: the one sorted `limit(maxSteps + 1)` collect is the only
  * driver action on the success path, beside the jobs of `steps`' own
  * plan (under AQE each of its shuffle stages is one). Every refusal is
  * checked on the rows of that collect, in the order given: a collect
  * that fits IS the whole table, so an input breaking several rules gets
  * the first rule's message. A collect that overflows `maxSteps` checks
  * the whole input, rule by rule in the same order, before it refuses
  * with `tooMany`. Refusals throw `IllegalArgumentException`, with the
  * text `require` gives them.
  *
  * The fold stays on the driver: `maxSteps` already bounds its memory
  * there, and a fold on the executors would pay for its refusal probes
  * with jobs of their own, where here they ride the one collect. Moving
  * it is a change to this class alone. */
final case class StepTable(steps: DataFrame, keys: Seq[String],
    maxSteps: Int, tooMany: String, refusals: StepTable.Refusal*) {
  import StepTable._

  private val group = steps.columns.indexOf(keys.head)

  /** The step rows in `keys` order, refusals checked. Each row carries
    * the columns of `steps`, then one flag per [[Broken]] rule. */
  def collect(): IndexedSeq[Row] = {
    val flags = refusals.collect { case Broken(broken, _) =>
      coalesce(broken, lit(false)) }
    val rows = steps.select(col("*") +: flags: _*)
      .orderBy(keys.map(col): _*).limit(maxSteps + 1).collect().toIndexedSeq
    if (rows.length > maxSteps) refuseWholeInput()
    val at = keys.map(k => steps.columns.indexOf(k))
    // adjacent rows of one group, in key order
    def pairs = rows.iterator.sliding(2).withPartial(false)
      .map(p => (p(0), p(1)))
      .filter { case (a, b) => a.getString(group) == b.getString(group) }
    var flag = steps.columns.length
    refusals.foreach {
      case Broken(_, message) =>
        val i = flag
        flag += 1
        if (rows.exists(_.getBoolean(i))) refuse(message)
      case Duplicate(message) =>
        if (pairs.exists { case (a, b) => at.forall(k => a.get(k) == b.get(k)) })
          refuse(message)
      case Gap(message) =>
        pairs.map { case (a, b) => (b.getLong(at(1)), a.getLong(at(1))) }
          .find { case (p, prev) => p != prev + 1 }
          .foreach { case (p, prev) => refuse(message(p, prev)) }
    }
    rows
  }

  /** [[collect]], then `step` over each group's rows in key order; the
    * output rows become a frame with the given column names. */
  def fold[T <: Product : TypeTag](columns: String*)(
      step: (String, IndexedSeq[Row]) => Seq[T]): DataFrame = {
    val rows = collect()
    val out = Vector.newBuilder[T]
    var from = 0
    while (from < rows.length) {
      val g = rows(from).getString(group)
      var to = from + 1
      while (to < rows.length && rows(to).getString(group) == g) to += 1
      out ++= step(g, rows.slice(from, to))
      from = to
    }
    steps.sparkSession.createDataset(out.result())(Encoders.product[T])
      .toDF(columns: _*)
  }

  /** The refusal-only branch: one probe of the whole input per rule. */
  private def refuseWholeInput(): Nothing = {
    val byKey = keys.map(col)
    refusals.foreach {
      case Broken(broken, message) =>
        if (!steps.filter(broken).isEmpty) refuse(message)
      case Duplicate(message) =>
        if (!steps.groupBy(byKey: _*).count().filter(col("count") > 1).isEmpty)
          refuse(message)
      case Gap(message) =>
        val p = col(keys(1))
        val prev = lag(p, 1).over(Window.partitionBy(keys.head).orderBy(p))
        steps.select(byKey :+ prev.as("__prev"): _*)
          .filter(col("__prev").isNotNull && p =!= col("__prev") + 1)
          .orderBy(byKey: _*).limit(1).collect().headOption
          .foreach(r => refuse(message(r.getLong(1), r.getLong(keys.length))))
    }
    refuse(tooMany)
  }
}

object StepTable {

  /** A rule the step table must keep, checked before any fold runs. */
  sealed trait Refusal

  /** Refuses when `broken` holds on any step row (NULL does not). */
  final case class Broken(broken: Column, message: String) extends Refusal

  /** Refuses when two step rows share every key. */
  final case class Duplicate(message: String) extends Refusal

  /** Refuses when, within a group, the second key (a long period) does not
    * follow the row before by exactly one; `message(p, previous)` names
    * the first such step in key order. */
  final case class Gap(message: (Long, Long) => String) extends Refusal

  private def refuse(message: String): Nothing =
    throw new IllegalArgumentException(s"requirement failed: $message")
}
