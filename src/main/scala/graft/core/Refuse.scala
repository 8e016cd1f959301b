package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-plan refusals: a bad input row fails the job that reads it, as a
  * bad row fails the SQL statement that reads it, instead of costing an
  * eager probe job of its own that rescans the input at call time.
  *
  * The refusal is a `Filter` whose condition is a CASE over the rules,
  * first matching rule first, ending in `spark_partition_id() >= 0`,
  * which is always true. That last branch is the fence: it makes the
  * condition nondeterministic, so the optimizer neither merges a later
  * filter into it (a merged predicate pushed into a parquet scan would
  * skip the bad row) nor moves one below it, and a filter cannot be
  * pruned away the way an unread projected column can. A clean input
  * pays one predicate per row and no job.
  *
  * The refusal fires when an action reads the offending row. A result
  * that passes the refused frame through a shuffle or an aggregation
  * reads every row of it; one that is a narrow map of it can be read in
  * part (a `limit`), so such callers keep an eager probe. A plan the
  * optimizer proves empty (a later filter that folds to false) reads no
  * row and refuses nothing. */
object Refuse {

  /** `df` with `rules` (condition, message) attached: an action that
    * reads a row where a condition holds fails with that rule's message,
    * evaluated on that row. A NULL condition passes, as in `filter`. */
  def rows(df: DataFrame, rules: (Column, Column)*): DataFrame = {
    require(rules.nonEmpty, "Refuse.rows needs at least one rule")
    val (c0, m0) = rules.head
    val checks = rules.tail.foldLeft(when(c0, raise_error(m0))) {
      case (w, (c, m)) => w.when(c, raise_error(m))
    }
    df.filter(checks.otherwise(spark_partition_id() >= 0))
  }

  /** A value as a message prints it: NULL as `null`, since `concat` with
    * a NULL operand is NULL. */
  def show(c: Column): Column = coalesce(c.cast("string"), lit("null"))
}
