package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

import graft.core.{Parquet, Table}
import graft.core.Scratch.workDir
import graft.ops.Ops._

/** Case-class row for q125's typed-Dataset round-trip (S12) — top-level so
  * the implicit product encoder can reflect it. Field names/types mirror the
  * nation parquet schema exactly. */
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)

/** One driver-checkable query: the Spark plan and (when SQL-expressible) the
  * equivalent DuckDB oracle SQL. Column names and ORDER BY are kept identical
  * on both sides; float aggregation goes through exact decimal arithmetic so
  * results hash-match across engines (see Ops.sumDec).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Relational parity queries (SURVEY.md §2.1-§2.6): the Postgres-SQL surface
  * the reference's DAG tasks exercise (README.md:11-17, 48-171), re-expressed
  * as declarative Spark plans over the TPC-H-ish fixture tables.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Table(s, dir, name).read

  /** The events fixture has shipped `ts` two ways across rounds: parquet
    * INT64 TIMESTAMP(NANOS) — which Spark 4 rejects by default
    * (microsecond-precision timestamps only) and we read as a long via
    * `nanosAsLong` — and, since round 7's regeneration, a plain
    * timestamp[us] that needs no conversion at all. Dispatch on the type
    * the scan actually produces instead of assuming either shape: a reader
    * pinned to one layout silently breaks the moment the fixture is
    * regenerated with the other (round 7 lost all 15 event queries to
    * exactly that). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    // session-wide by necessity (reader option doesn't exist for this):
    // other nanos-timestamp parquet sources read in this session will also
    // arrive as longs — acceptable here, events is the only candidate table.
    // Harmless for micros fixtures: the flag only affects NANOS columns.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, dir, "events"))
  }

  /** The ONE definition of the ts normalization, shared by the batch
    * reader above and the streaming source (q52) so the streaming plan can
    * never silently diverge from the batch oracle it is checked against.
    *
    * Nanos-as-long → FLOOR-divide to microseconds: integer arithmetic, no
    * double round-trip (2^53 < ns-since-epoch). `DIV` alone truncates
    * toward zero, which would round pre-1970 (negative) nanos UP a
    * microsecond; subtracting the non-negative `pmod` first makes the
    * quotient exact.
    *
    * A tz-naive timestamp[us] (what the regenerated fixture stores; Spark
    * infers TIMESTAMP_NTZ) is cast to session-tz TIMESTAMP: watermarks and
    * epoch arithmetic reject NTZ, and with the session pinned to UTC the
    * cast is value-preserving and renders exactly like DuckDB's naive
    * read of the same file. A tz-aware timestamp passes through. */
  private[queries] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: expected nanos-long or timestamp, got $other")
    }

  /** q131's oracle replay of [[graft.ops.Sketches]]' CMS bucket: first 8
    * md5 hex chars of "seed:d:key" as a uint32, mod width — MUST stay
    * textually in lockstep with `Sketches.cmsBucket`. */
  private def dCmsBucket(seed: String, d: Int, of: String, width: Int): String =
    s"('0x' || substr(md5('$seed:$d:' || CAST($of AS VARCHAR)), 1, 8))::UBIGINT % $width"

  /** The ONE replay of "sketch all of lineitem at (4, 512, cms131), report
    * suppliers estimated ≥ 500": q131's oracle, and — because CMS is
    * linear, so any batching of the build merges to the same counters —
    * q203's streaming lifecycle oracle verbatim. */
  private lazy val dCmsHeavyHittersSql: String =
    s"""WITH layers AS (
       |  ${(0 until 4).map(d =>
         s"SELECT $d AS d, ${dCmsBucket("cms131", d, "l_suppkey", 512)} AS b FROM lineitem")
         .mkString("\n  UNION ALL ")}),
       |sketch AS (SELECT d, b, count(*) AS cnt FROM layers GROUP BY d, b),
       |probes AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
       |probe_layers AS (
       |  ${(0 until 4).map(d =>
         s"SELECT k, $d AS d, ${dCmsBucket("cms131", d, "k", 512)} AS b FROM probes")
         .mkString("\n  UNION ALL ")}),
       |est AS (SELECT pl.k, MIN(COALESCE(s.cnt, 0)) AS est
       |  FROM probe_layers pl LEFT JOIN sketch s ON s.d = pl.d AND s.b = pl.b
       |  GROUP BY pl.k),
       |truth AS (SELECT l_suppkey AS k, count(*) AS true_cnt
       |  FROM lineitem GROUP BY l_suppkey)
       |SELECT est.k AS l_suppkey, est.est AS est, truth.true_cnt,
       |  est.est >= truth.true_cnt AS overcount_ok
       |FROM est JOIN truth ON est.k = truth.k
       |WHERE est.est >= 500
       |ORDER BY l_suppkey""".stripMargin

  val queries: Vector[Q] = Vector(
    // ------------------------------------------------------------------
    // q01 — grouped aggregation over the fact table (§2.4). TPC-H Q1 shape:
    // full scan, 2-key groupBy; partial (map-side) aggregation makes the
    // shuffle carry only (flag,status) groups — constant-size at any SF.
    Q("q01_pricing_summary",
      (s, dir) => {
        t(s, dir, "lineitem")
          .filterRows(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            graft.ops.Ops.sumDec(col("l_quantity")).as("sum_qty"),
            graft.ops.Ops.sumDec(col("l_extendedprice")).as("sum_base_price"),
            graft.ops.Ops.sumDecProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_disc_price"),
            graft.ops.Ops.avgDec(col("l_quantity")).as("avg_qty"),
            graft.ops.Ops.avgDec(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // q02 — filter + keep-list projection (P1+P3). Both the predicate and the
    // 5-column projection push into the parquet scan (PushedFilters/ReadSchema).
    Q("q02_filter_project",
      (s, dir) => {
        t(s, dir, "lineitem")
          .filterRows(col("l_quantity") > 45 &&
            col("l_shipdate").between(lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
          .keep("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
             |FROM lineitem
             |WHERE l_quantity > 45
             |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // q03 — derived columns, formatting, casts (P2+P4+P7; README.md:70-77).
    Q("q03_derive_format",
      (s, dir) => {
        t(s, dir, "orders")
          .derive("o_year", year(col("o_orderdate")))
          .derive("order_label",
            concat(lpad(col("o_orderkey").cast("string"), 10, "0"), lit("-"),
              lower(trim(col("o_orderpriority")))))
          // P7 exercised: double → exact DECIMAL(18,2) → back to DOUBLE for
          // presentation (fixed-scale decimal rendering breaks stringified
          // cross-engine comparison; the round-trip is value-preserving)
          .castCol("o_totalprice", DecimalType(18, 2))
          .castCol("o_totalprice", org.apache.spark.sql.types.DoubleType)
          .keep("o_orderkey", "o_year", "order_label", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') || '-' || lower(trim(o_orderpriority)) AS order_label,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q04 — regex extraction / replace / match (P5; README.md:16).
    Q("q04_regex_extract",
      (s, dir) => {
        t(s, dir, "part")
          .regexExtract("brand_num", col("p_brand"), "#([0-9]+)", 1)
          .derive("name_first_word", regexp_extract(col("p_name"), "^([a-z]+)", 1))
          .derive("name_compact", regexp_replace(col("p_name"), "[aeiou]", ""))
          .derive("is_widget", col("p_name").rlike("widget$"))
          .keep("p_partkey", "brand_num", "name_first_word", "name_compact", "is_widget")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
             |  regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
             |  regexp_extract(p_name, '^([a-z]+)', 1) AS name_first_word,
             |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_compact,
             |  regexp_matches(p_name, 'widget$') AS is_widget
             |FROM part
             |ORDER BY p_partkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q05 — the flagship README join pipeline (README.md:126-171): two
    // broadcast equi-joins with merged output schema, derived label, keep-list.
    // nation and region are tiny dims → explicit broadcast() keeps the fact
    // side shuffle-free at any scale.
    Q("q05_customer_geo",
      (s, dir) => {
        val nat = t(s, dir, "nation").renamed("n_nationkey" -> "c_nationkey")
        val reg = t(s, dir, "region").renamed("r_regionkey" -> "n_regionkey")
        t(s, dir, "customer")
          .joinMerged(broadcast(nat), Seq("c_nationkey"))
          .joinMerged(broadcast(reg), Seq("n_regionkey"))
          .derive("customer_label",
            concat(col("c_name"), lit(" ["), col("n_name"), lit("/"), col("r_name"), lit("]")))
          .keep("c_custkey", "c_name", "n_name", "r_name", "customer_label", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, n_name, r_name,
             |  c_name || ' [' || n_name || '/' || r_name || ']' AS customer_label,
             |  c_acctbal
             |FROM customer
             |JOIN nation ON n_nationkey = c_nationkey
             |JOIN region ON r_regionkey = n_regionkey
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q06 — multi-way join + grouped aggregation (J1+§2.4): fact-fact join
    // shuffles on the join keys; dims broadcast; aggregation is partial+final.
    Q("q06_revenue_by_nation",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            graft.ops.Ops.sumDecProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name
             |ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q07 — top-k (L2): agg + join + TakeOrderedAndProject (per-partition
    // heaps, no global sort materialized).
    Q("q07_top_customers",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(graft.ops.Ops.sumDec(col("o_totalprice")).as("total_spend"),
            count(lit(1)).as("n_orders"))
        val cust = t(s, dir, "customer").renamed("c_custkey" -> "o_custkey")
        spend.joinMerged(cust, Seq("o_custkey"))
          .keep("o_custkey", "c_name", "total_spend", "n_orders")
          .topK(10, col("total_spend").desc, col("o_custkey").asc)
      },
      Some("""SELECT o_custkey, c_name,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
             |  count(*) AS n_orders
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |GROUP BY o_custkey, c_name
             |ORDER BY total_spend DESC, o_custkey
             |LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q08/q09 — semi and anti join (J3): EXISTS / NOT EXISTS without
    // materializing the right side's payload columns.
    Q("q08_customers_with_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .keep("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    Q("q09_customers_without_big_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val big = t(s, dir, "orders").filterRows(col("o_totalprice") > 300000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
          .keep("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q10-q12 — set operations (§2.6).
    Q("q10_union_distinct",
      (s, dir) => {
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .unionMerged(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .distinct()
          .orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |UNION
             |SELECT s_nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    Q("q11_intersect",
      (s, dir) => {
        t(s, dir, "customer").filterRows(col("c_acctbal") > 5000).keep("c_custkey")
          .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 5000
             |INTERSECT
             |SELECT o_custkey FROM orders
             |ORDER BY c_custkey""".stripMargin)),

    Q("q12_except",
      (s, dir) => {
        t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
          .except(t(s, dir, "customer").filterRows(col("c_acctbal") > 1000)
            .select(col("c_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT DISTINCT o_custkey AS custkey FROM orders
             |EXCEPT
             |SELECT c_custkey FROM customer WHERE c_acctbal > 1000
             |ORDER BY custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q13 — aggregate function family: count / distinct count / min / max /
    // order-independent avg (§2.4).
    Q("q13_priority_stats",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            graft.ops.Ops.avgDec(col("o_totalprice")).as("avg_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  count(*) AS n_orders,
             |  count(DISTINCT o_custkey) AS n_customers,
             |  min(o_totalprice) AS min_price,
             |  max(o_totalprice) AS max_price,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_price
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // q14 — rollup / grouping sets (§2.4). NULLS FIRST pinned on both sides
    // (Spark default ≠ DuckDB default).
    Q("q14_rollup",
      (s, dir) => {
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), graft.ops.Ops.sumDec(col("l_quantity")).as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // q44 — cube: all grouping-set combinations of two dims (§2.4).
    Q("q44_cube",
      (s, dir) => {
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            graft.ops.Ops.sumDec(col("o_totalprice")).as("total"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // q45/q46 — reshaping: pivot (crosstab) and unpivot (melt) (§2.4).
    // Pivot values are declared explicitly — inference would add a scan.
    Q("q45_pivot",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
          // pivot yields NULL for absent combinations; the oracle's
          // count FILTER yields 0 — align
          .na.fill(0L, Seq("n_f", "n_o", "n_p"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
             |  count(*) FILTER (o_orderstatus = 'O') AS n_o,
             |  count(*) FILTER (o_orderstatus = 'P') AS n_p
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("q46_unpivot",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_linestatus"))
          .agg(
            graft.ops.Ops.sumDec(col("l_quantity")).as("quantity"),
            graft.ops.Ops.sumDec(col("l_discount")).as("discount"),
            graft.ops.Ops.sumDec(col("l_tax")).as("tax"))
          .unpivot(Array(col("l_linestatus")),
            Array(col("quantity"), col("discount"), col("tax")),
            "measure", "total")
          .orderBy("l_linestatus", "measure")
      },
      Some("""WITH agg AS (
             |  SELECT l_linestatus,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS quantity,
             |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount,
             |    CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
             |  FROM lineitem GROUP BY l_linestatus)
             |SELECT l_linestatus, 'quantity' AS measure, quantity AS total FROM agg
             |UNION ALL SELECT l_linestatus, 'discount', discount FROM agg
             |UNION ALL SELECT l_linestatus, 'tax', tax FROM agg
             |ORDER BY l_linestatus, measure""".stripMargin)),

    // ------------------------------------------------------------------
    // q15/q16 — window functions: ranking and running total (§2.7 extension).
    Q("q15_rank_in_nation",
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, dir, "customer")
          .derive("rank_in_nation", row_number().over(w))
          .filterRows(col("rank_in_nation") <= 3)
          .keep("c_nationkey", "rank_in_nation", "c_custkey", "c_name", "c_acctbal")
          .orderBy("c_nationkey", "rank_in_nation")
      },
      Some("""SELECT c_nationkey, rank_in_nation, c_custkey, c_name, c_acctbal FROM (
             |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rank_in_nation
             |  FROM customer)
             |WHERE rank_in_nation <= 3
             |ORDER BY c_nationkey, rank_in_nation""".stripMargin)),

    Q("q16_running_spend",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .derive("running_spend",
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
          .keep("o_custkey", "o_orderkey", "o_orderdate", "running_spend")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
             |FROM orders
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q17 — CASE WHEN bucketing + aggregation.
    Q("q17_price_buckets",
      (s, dir) => {
        t(s, dir, "orders")
          .derive("price_bucket",
            when(col("o_totalprice") < 50000, "small")
              .when(col("o_totalprice") < 150000, "medium")
              .otherwise("large"))
          .groupBy(col("price_bucket"))
          .agg(count(lit(1)).as("n"), graft.ops.Ops.sumDec(col("o_totalprice")).as("total"))
          .orderBy("price_bucket")
      },
      Some("""SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
             |            WHEN o_totalprice < 150000 THEN 'medium'
             |            ELSE 'large' END AS price_bucket,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY 1
             |ORDER BY price_bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q18 — date formatting / calendar grouping (P4 on dates).
    Q("q18_orders_by_month",
      (s, dir) => {
        t(s, dir, "orders")
          .derive("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .groupBy(col("order_month"))
          .agg(count(lit(1)).as("n_orders"), countDistinct(col("o_custkey")).as("n_customers"))
          .orderBy("order_month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
             |  count(*) AS n_orders,
             |  count(DISTINCT o_custkey) AS n_customers
             |FROM orders
             |GROUP BY 1
             |ORDER BY order_month""".stripMargin)),

    // ------------------------------------------------------------------
    // q19 — JSON property extraction (X5 multimodal-metadata path).
    Q("q19_event_props",
      (s, dir) => {
        events(s, dir)
          .derive("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
             |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q20 — tumbling time-window aggregation over the events table (§2.7);
    // same plan works under Structured Streaming (see graft.streaming).
    Q("q20_hourly_events",
      (s, dir) => {
        events(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), graft.ops.Ops.sumDec(col("value")).as("sum_value"))
          .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q21 — cross join (J3) over a tiny dimension.
    Q("q21_region_pairs",
      (s, dir) => {
        val a = t(s, dir, "region").renamed("r_regionkey" -> "key_a", "r_name" -> "name_a")
        val b = t(s, dir, "region").renamed("r_regionkey" -> "key_b", "r_name" -> "name_b")
        a.crossJoin(b)
          .filterRows(col("key_a") < col("key_b"))
          .derive("pair", concat(col("name_a"), lit("-"), col("name_b")))
          .orderBy("key_a", "key_b")
      },
      Some("""SELECT a.r_regionkey AS key_a, a.r_name AS name_a,
             |       b.r_regionkey AS key_b, b.r_name AS name_b,
             |       a.r_name || '-' || b.r_name AS pair
             |FROM region a CROSS JOIN region b
             |WHERE a.r_regionkey < b.r_regionkey
             |ORDER BY key_a, key_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q34 — gap-based sessionization (§2.7): the built-in session_window,
    // 10-minute gap per user. Same plan runs under Structured Streaming
    // (graft.streaming.Streams.sessionize); the oracle reconstructs sessions
    // with lag + cumulative sum. Boundary convention (every session oracle
    // here — q34/q67/q183/q184 — uses it): session_window MERGES touching
    // sessions, so the split predicate is STRICTLY-greater-than-gap — an
    // event exactly gap after its predecessor stays in the session.
    Q("q34_sessionization",
      (s, dir) => {
        graft.streaming.Streams.sessionize(events(s, dir), "10 minutes")
          .orderBy("user_id", "session_start")
      },
      Some("""WITH marked AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |              > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_session
             |  FROM events),
             |sessions AS (
             |  SELECT *, sum(new_session) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM marked)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sessions
             |GROUP BY user_id, session_id
             |ORDER BY user_id, session_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q35 — row→document marshalling (P8, the reference's row2dict idiom,
    // hooks/dataset.py:144-148): rows as JSON strings via to_json(struct).
    Q("q35_row_json",
      (s, dir) => {
        t(s, dir, "nation")
          .derive("doc", to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
          .keep("n_nationkey", "doc")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey,
             |  to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name,
             |                      n_regionkey := n_regionkey)) AS doc
             |FROM nation
             |ORDER BY n_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q36 — full outer join (J3 outer family): per-nation counts from two
    // filtered sides, nulls where a nation appears on one side only.
    Q("q36_outer_join",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .filterRows(col("c_mktsegment") === "BUILDING")
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val supp = t(s, dir, "supplier")
          .filterRows(col("s_acctbal") > 9000)
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_supp"))
        cust.join(supp, Seq("nationkey"), "full_outer")
          .orderBy("nationkey")
      },
      Some("""SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.n_cust, s.n_supp
             |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
             |      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1) c
             |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
             |      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
             |  ON c.nationkey = s.nationkey
             |ORDER BY nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q47 — explicit GROUPING SETS (§2.4): the general form rollup/cube
    // specialize. The DataFrame API exposes only rollup/cube; arbitrary sets
    // go through SQL — same Catalyst Expand plan underneath.
    Q("q47_grouping_sets",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                |FROM lineitem_v
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // q48 — lag/lead window family (§2.7): days since each customer's
    // previous order. One keyed window shuffle; null for first orders.
    Q("q48_order_gaps",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .derive("prev_date", lag(col("o_orderdate"), 1).over(w))
          .derive("gap_days",
            datediff(col("o_orderdate"), col("prev_date")).cast("int"))
          .keep("o_custkey", "o_orderkey", "o_orderdate", "gap_days")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(date_diff('day',
             |    CAST(lag(o_orderdate, 1) OVER (
             |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
             |    CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days
             |FROM orders
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q49 — AS-OF (point-in-time) join: each purchase picks up the user's
    // most recent click value at or before purchase time — the leakage-free
    // feature-lookup shape. One keyed union+window shuffle (see
    // TemporalJoins.asofJoin); the oracle is DuckDB's native ASOF LEFT JOIN.
    Q("q49_asof_join",
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value").as("click_value"))
        graft.ops.TemporalJoins.asofJoin(
            purchases, clicks, Seq("user_id"), "ts", "ts")
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click')
             |SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q50 — binned range join: purchases inside the 5-minute window after a
    // click by the same user. Bins turn the non-equi range predicate into an
    // equi join on (user, bin) + exact filter — no nested-loop cross
    // product (see TemporalJoins.rangeJoin).
    Q("q50_range_join",
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        val windows = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("win_start"),
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("win_end"))
        graft.ops.TemporalJoins.rangeJoin(
            purchases, windows, Seq("user_id"), "ts", "win_start", "win_end",
            binWidth = 300L)
          .select("purchase_id", "user_id", "ts", "click_id")
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts, c.event_id AS click_id
             |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 5 MINUTE
             |ORDER BY purchase_id, click_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q39 — exact percentiles (§2.4): median and p90 via the exact
    // interpolating `percentile` aggregate (sort-based; approx_percentile is
    // the sketch path when exactness can yield). DuckDB's quantile_cont uses
    // the same linear-interpolation definition.
    Q("q39_percentiles",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
            round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"))
          .orderBy("o_orderpriority")
      },
      // rounded to 4 decimals on both sides: the interpolation arithmetic
      // (lower + (upper-lower)*frac) can differ in the last ulp across engines
      Some("""SELECT o_orderpriority,
             |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
             |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // q52 — Structured Streaming, driver-checkable (§2.7 streaming face): the
    // q20 plan (Streams.windowedCounts) run as an ACTUAL streaming micro-
    // batch — file source over the events parquet, incremental execution,
    // complete-mode memory sink — then the sink table is returned as a batch
    // frame. Streaming and batch share the single plan definition, so the
    // batch oracle is the correctness check of the streaming execution path.
    Q("q52_streaming_hourly_events",
      (s, dir) => {
        runMicroBatch(s, dir, "q52", OutputMode.Complete)(
          graft.streaming.Streams.windowedCounts(_))
          .orderBy("window_start", "event_type")
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q53 — sketch aggregation (§2.4 HLL path), oracle-portable form: the
    // HyperLogLog++ approx_count_distinct runs per group next to the exact
    // count, and the emitted `within_bound` pins the sketch's error inside
    // 4× its configured rsd (0.05 → 20%; HLL++ is deterministic for fixed
    // data, and 4σ makes the bound robust to fixture growth). The oracle
    // computes the exact side and asserts the bound held — the sketch VALUE
    // itself is engine-specific and intentionally not part of the contract
    // (SketchSpec pins its accuracy against exact counts separately).
    Q("q53_approx_distinct",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_orderkey")).as("n_orders"),
            approx_count_distinct(col("l_orderkey"), 0.05).as("__approx"))
          .select(col("l_returnflag"), col("n_orders"),
            (abs(col("__approx") - col("n_orders")).cast("double")
              <= col("n_orders") * 0.2).as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
             |  TRUE AS within_bound
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q64 — incremental upsert / MERGE (Ops.upsert): a delta of restated
    // totals (every 10th order) plus brand-new orders (shifted-key idiom)
    // merged into the base table — updates win by key, inserts append,
    // untouched rows pass through. The anti-join's updates side is tiny, so
    // AQE broadcasts it: zero shuffle over the base at any SF. The oracle
    // rebuilds the merge as UNION ALL + NOT EXISTS.
    Q("q64_upsert",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val restated = orders
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
          .withColumn("o_orderstatus", lit("R"))
        val inserts = orders
          .filter(pmod(col("o_orderkey"), lit(100)) === 1)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        upsert(orders, restated.unionByName(inserts), Seq("o_orderkey"))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      // CTE column order mirrors the orders schema so SELECT * positions
      // line up across the UNION ALL branches
      Some("""WITH updates AS (
             |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
             |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
             |    o_orderdate, o_orderpriority
             |  FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
             |    o_totalprice, o_orderdate, o_orderpriority
             |  FROM orders WHERE o_orderkey % 100 = 1),
             |merged AS (
             |  SELECT * FROM updates
             |  UNION ALL
             |  SELECT b.* FROM orders b WHERE NOT EXISTS (
             |    SELECT 1 FROM updates u WHERE u.o_orderkey = b.o_orderkey))
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM merged ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q67 — streaming sessionization (§2.7): the q34 plan (session_window)
    // run as an actual micro-batch under append mode + watermark — the ONLY
    // mode session windows support in streaming (update is rejected: open
    // sessions can still merge; complete would retain all state). Append
    // emits exactly the sessions the final watermark has closed:
    // session_end = last_ts + gap <= max(ts) - lateness. The oracle applies
    // the same closure predicate, so watermark eviction semantics — the
    // thing that bounds state on an unbounded stream — is itself what is
    // being checked against the oracle.
    Q("q67_streaming_sessions",
      (s, dir) => {
        import graft.streaming.Streams
        runMicroBatch(s, dir, "q67", OutputMode.Append()) { stream =>
          Streams.sessionize(Streams.withBoundedLateness(stream, "10 minutes"),
            gap = "10 minutes")
        }.orderBy("user_id", "session_start")
      },
      Some("""WITH marked AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |              > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_session
             |  FROM events),
             |sessions AS (
             |  SELECT *, sum(new_session) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM marked)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sessions
             |GROUP BY user_id, session_id
             |HAVING max(ts) + INTERVAL 10 MINUTE
             |       <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
             |ORDER BY user_id, session_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q68 — streaming exact dedup (X1's streaming face, driver-checkable):
    // dropDuplicatesWithinWatermark over a live micro-batch. Each key's
    // first arrival is emitted immediately (append), state evicted by the
    // watermark. The projection keeps only the dedup keys so the output is
    // the distinct key set — deterministic regardless of which physical row
    // arrives first within the batch.
    Q("q68_streaming_dedup",
      (s, dir) => {
        runMicroBatch(s, dir, "q68", OutputMode.Append()) { stream =>
          graft.streaming.Streams.streamingDedup(
              stream.select(col("user_id"), col("event_type"), col("ts")),
              tsCol = "ts", lateness = "1 hour",
              keys = Seq("user_id", "event_type"))
            .select("user_id", "event_type")
        }.orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q69 — custom stateful streaming (mapGroupsWithState, §2.7): per-user
    // running totals through the typed GroupState path — the escape hatch
    // for semantics windowed aggs can't express. Update mode (the only mode
    // mapGroupsWithState supports); the fixture arrives as one micro-batch,
    // so the sink holds exactly one final snapshot per user. Values go
    // through integer cents so the Double running sum is exact and
    // order-independent (state accumulates in arrival order, which is not
    // deterministic across partitions).
    Q("q69_streaming_user_totals",
      (s, dir) => {
        import graft.streaming.Streams
        runMicroBatch(s, dir, "q69", OutputMode.Update()) { stream =>
          import stream.sparkSession.implicits._
          Streams.userRunningTotals(
              stream.select(col("user_id"), col("ts"),
                  round(col("value") * 100).as("value"))
                .as[Streams.UserEvent])
            .toDF()
        }.select(col("user_id"), col("n_events"),
            (col("total") / 100).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(round(value * 100)) / 100 AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q79 — stream-static enrichment join (§2.7): the event micro-batch
    // decorated with a static customer dimension — broadcast per batch,
    // stateless (no watermark), append mode. The fourth streaming execution
    // shape under oracle (aggregation q52, session windows q67, dedup
    // state q68, typed state q69, and now joins).
    Q("q79_streaming_enrich",
      (s, dir) => {
        runMicroBatch(s, dir, "q79", OutputMode.Append()) { stream =>
          val dim = t(s, dir, "customer")
            .select(col("c_custkey").as("user_id"), col("c_nationkey"))
          graft.streaming.Streams.enrichWithStatic(
              stream.select("event_id", "user_id"), dim, Seq("user_id"))
            .select("event_id", "user_id", "c_nationkey")
        }.orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, c_nationkey
             |FROM events JOIN customer ON user_id = c_custkey
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q92 — stream-STREAM interval join (§2.7, the attribution shape):
    // clicks joined to the same user's views within the preceding 30
    // minutes, as an actual micro-batch self-join of the event stream with
    // watermarks on both sides (the two-sided time bound is what lets the
    // engine evict join state). Inner join ⇒ matches emit as found; the
    // batch oracle is the identical interval join in SQL. Completes the
    // streaming execution-shape set: agg (q52), session windows (q67),
    // dedup state (q68), typed state (q69), stream-static (q79),
    // stream-stream (this).
    Q("q92_streaming_attribution",
      (s, dir) => {
        runMicroBatch(s, dir, "q92", OutputMode.Append()) { stream =>
          val clicks = stream.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("ts_click"))
          val views = stream.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("ts_view"))
          graft.streaming.Streams.intervalJoin(clicks, views, Seq("user_id"),
            "ts_click", "ts_view", maxDelay = "30 minutes", lateness = "1 hour")
        }.orderBy("click_id", "view_id")
      },
      Some("""SELECT a.user_id, a.event_id AS click_id,
             |  CAST(a.ts AS TIMESTAMP) AS ts_click,
             |  b.event_id AS view_id, CAST(b.ts AS TIMESTAMP) AS ts_view
             |FROM events a JOIN events b ON a.user_id = b.user_id
             |  AND a.event_type = 'click' AND b.event_type = 'view'
             |  AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
             |ORDER BY click_id, view_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q93 — deterministic mode (§2.4): each user's most frequent event
    // type, ties to the alphabetically first type. Built-in `mode()` has
    // engine-defined tie behavior; the argmax-via-struct-min form (min of
    // (-n, type) sorts n desc then type asc) makes the answer total and
    // identical everywhere. Two map-side-combinable aggregations, no window.
    Q("q93_mode_per_user",
      (s, dir) =>
        events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(min(struct((-col("n")).as("nn"), col("event_type").as("et"))).as("w"))
          .select(col("user_id"), col("w.et").as("mode_event"), (-col("w.nn")).as("n"))
          .orderBy("user_id"),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |          FROM events GROUP BY 1, 2)
             |SELECT user_id, event_type AS mode_event, n FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q94 — gap-filled hourly counts (§2.7 densification): every hour in
    // each event type's range gets a row, empty hours as explicit zeros —
    // "no row" and "zero events" are different facts and a plain groupBy
    // (q20) can't tell them apart. Grid = sequence-explode per key; one
    // keyed left join; no windows.
    Q("q94_gap_filled_hourly",
      (s, dir) =>
        graft.ops.TimeSeries.gapFill(events(s, dir), Seq("event_type"), "ts",
            "1 hour", Seq("n" -> count(lit(1))), fill = Map("n" -> lit(0L)))
          .orderBy("event_type", "bucket"),
      Some("""WITH c AS (SELECT event_type,
             |    time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             |      FROM c GROUP BY 1),
             |g AS (SELECT event_type,
             |        unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
             |      FROM r)
             |SELECT g.event_type, g.bucket, coalesce(n, CAST(0 AS BIGINT)) AS n
             |FROM g LEFT JOIN c ON g.event_type IS NOT DISTINCT FROM c.event_type
             |  AND g.bucket = c.bucket
             |ORDER BY g.event_type, g.bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q95 — SCD-2 history merge (§2.3/X7 extension): a restatement batch
    // versions 10% of orders instead of overwriting them — matched current
    // rows close out at the restatement date, the new versions open, and
    // the table stays point-in-time queryable. One broadcast-able keyed
    // left join over the current slice; the oracle rebuilds the same merge
    // in SQL.
    Q("q95_scd2_history",
      (s, dir) => {
        val hist = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"))
        val delta = t(s, dir, "orders")
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
            (col("o_totalprice") * 1.1).as("o_totalprice"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("valid_from"))
        graft.ops.Ops.scd2Merge(hist, delta, Seq("o_orderkey"))
          .orderBy("o_orderkey", "valid_from")
      },
      Some("""WITH delta AS (
             |  SELECT o_orderkey, 'R' AS o_orderstatus,
             |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
             |    o_orderdate + INTERVAL 30 DAY AS valid_from
             |  FROM orders WHERE o_orderkey % 10 = 0),
             |closedout AS (
             |  SELECT h.o_orderkey, h.o_orderstatus, h.o_totalprice,
             |    h.o_orderdate AS valid_from, d.valid_from AS valid_to
             |  FROM orders h LEFT JOIN delta d USING (o_orderkey)),
             |opened AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
             |    CAST(NULL AS TIMESTAMP) AS valid_to
             |  FROM delta)
             |SELECT * FROM closedout UNION ALL SELECT * FROM opened
             |ORDER BY o_orderkey, valid_from""".stripMargin)),

    // ------------------------------------------------------------------
    // q159 — SCD-2 LIFECYCLE (X7's operating contract, the q141/q142
    // pattern for versioned history): TWO successive restatement batches
    // flow through scd2Merge — delta 1 versions every 10th order at
    // day +30, delta 2 re-versions every 20th at day +60 — so the second
    // merge closes rows the FIRST merge opened (key %20: original closed
    // at +30, R version closed at +60, S version open), which is the
    // interval-chaining behavior a single-delta row can't observe. Both
    // merges carry the in-plan key-uniqueness and interval-ordering
    // refusals. The oracle rebuilds both merges in SQL.
    Q("q159_scd2_lifecycle",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val hist = orders
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"))
        val delta1 = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
            (col("o_totalprice") * 1.1).as("o_totalprice"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("valid_from"))
        val delta2 = orders.filter(pmod(col("o_orderkey"), lit(20)) === 0)
          .select(col("o_orderkey"), lit("S").as("o_orderstatus"),
            (col("o_totalprice") * 1.2).as("o_totalprice"),
            (col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("valid_from"))
        val v1 = graft.ops.Ops.scd2Merge(hist, delta1, Seq("o_orderkey"))
        graft.ops.Ops.scd2Merge(v1, delta2, Seq("o_orderkey"))
          .orderBy("o_orderkey", "valid_from")
      },
      Some("""WITH d1 AS (
             |  SELECT o_orderkey, 'R' AS o_orderstatus,
             |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
             |    o_orderdate + INTERVAL 30 DAY AS valid_from
             |  FROM orders WHERE o_orderkey % 10 = 0),
             |d2 AS (
             |  SELECT o_orderkey, 'S' AS o_orderstatus,
             |    o_totalprice * CAST(1.2 AS DOUBLE) AS o_totalprice,
             |    o_orderdate + INTERVAL 60 DAY AS valid_from
             |  FROM orders WHERE o_orderkey % 20 = 0),
             |base AS (
             |  SELECT h.o_orderkey, h.o_orderstatus, h.o_totalprice,
             |    h.o_orderdate AS valid_from, d1.valid_from AS valid_to
             |  FROM orders h LEFT JOIN d1 USING (o_orderkey)),
             |r AS (
             |  SELECT d1.o_orderkey, d1.o_orderstatus, d1.o_totalprice,
             |    d1.valid_from, d2.valid_from AS valid_to
             |  FROM d1 LEFT JOIN d2 USING (o_orderkey)),
             |opened AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
             |    CAST(NULL AS TIMESTAMP) AS valid_to
             |  FROM d2)
             |SELECT * FROM base UNION ALL SELECT * FROM r
             |UNION ALL SELECT * FROM opened
             |ORDER BY o_orderkey, valid_from""".stripMargin)),

    // ------------------------------------------------------------------
    // q70 — data-quality validation report (Validate.report): five
    // expectations over lineitem — including two exact-uniqueness checks —
    // computed in ONE aggregation pass (each check is a conditional count
    // inside a single agg; 50 checks over 100 TB still read the data once).
    // A mix of passing and failing checks so both report states are under
    // oracle. The oracle recomputes each count as plain SQL.
    Q("q70_validation_report",
      (s, dir) => {
        import graft.ops.Validate
        Validate.report(t(s, dir, "lineitem"),
          Seq(Validate.notNull("l_shipdate"),
            Validate.inRange("l_quantity", 1, 25),
            Validate.isIn("l_returnflag", Seq("A", "N"))),
          Seq(Validate.unique("l_orderkey"),
            Validate.unique("l_orderkey", "l_linenumber")))
          .orderBy("check")
      },
      Some("""WITH rep AS (
             |  SELECT 'not_null(l_shipdate)' AS "check",
             |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS n_violations,
             |    count(*) AS n_rows FROM lineitem
             |  UNION ALL
             |  SELECT 'in_range(l_quantity,1.0,25.0)',
             |    sum(CASE WHEN NOT coalesce(l_quantity >= 1.0 AND l_quantity <= 25.0, false)
             |             THEN 1 ELSE 0 END),
             |    count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'is_in(l_returnflag)',
             |    sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N'), false)
             |             THEN 1 ELSE 0 END),
             |    count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'unique(l_orderkey)',
             |    count(*) - count(DISTINCT l_orderkey), count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'unique(l_orderkey,l_linenumber)',
             |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)),
             |    count(*) FROM lineitem)
             |SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
             |  n_rows, n_violations = 0 AS pass
             |FROM rep ORDER BY "check" """.stripMargin)),

    // ------------------------------------------------------------------
    // q71 — row-level quarantine (Validate.quarantine): the reject-file
    // idiom. Bad documents carry a violations array naming each failed
    // check; map-only on the Spark side (two filters over one scan, no
    // shuffle). Oracle rebuilds the array as concat_ws over CASE columns.
    Q("q71_quarantine",
      (s, dir) => {
        import graft.ops.Validate
        val (_, bad) = Validate.quarantine(t(s, dir, "documents"),
          Seq(Validate.inRange("n_chars", 50, 1000),
            Validate.isIn("lang", Seq("en", "es", "de", "fr"))))
        bad.select(col("doc_id"),
            array_join(col("violations"), ",").as("violations"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, concat_ws(',',
             |    CASE WHEN NOT coalesce(n_chars >= 50.0 AND n_chars <= 1000.0, false)
             |         THEN 'in_range(n_chars,50.0,1000.0)' END,
             |    CASE WHEN NOT coalesce(lang IN ('en','es','de','fr'), false)
             |         THEN 'is_in(lang)' END) AS violations
             |FROM documents
             |WHERE NOT coalesce(n_chars >= 50.0 AND n_chars <= 1000.0, false)
             |   OR NOT coalesce(lang IN ('en','es','de','fr'), false)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q75 — salted skew join (§2.3 scale face): the hot-key treatment under
    // the correctness gate. The fact side is salted with a deterministic
    // content hash (retry-safe — never monotonically_increasing_id), the
    // dim side replicated `buckets`×, the join keyed on (key, salt) so one
    // hot key spreads over `buckets` tasks. The oracle is the PLAIN join:
    // salting must be invisible in the result, which is exactly the
    // property worth pinning.
    Q("q75_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem").keep("l_suppkey", "l_extendedprice")
        val supp = t(s, dir, "supplier").keep("s_suppkey", "s_nationkey")
          .renamed("s_suppkey" -> "l_suppkey")
        li.saltedJoin(supp, "l_suppkey", buckets = 8)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_items"),
            sumDec(col("l_extendedprice")).as("revenue"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey
             |ORDER BY s_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q76 — approximate percentile sketch (§2.4, q53's oracle-portable
    // pattern): the KLL/GK-style approx_percentile runs per group next to
    // the exact interpolating percentile; the emitted flag pins the sketch
    // between the exact 45th and 55th percentiles — a bound wide enough to
    // absorb any partition-merge-order wobble at accuracy 10000 while still
    // catching a broken sketch. The sketch VALUE itself is engine-specific
    // and intentionally outside the contract.
    Q("q76_approx_percentile",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            // ONE array-percentile aggregate: the three exact quantiles
            // share a single sorted buffer instead of sorting three times
            expr("percentile(l_extendedprice, array(0.45, 0.5, 0.55))").as("__p"),
            expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__approx"))
          .select(col("l_returnflag"),
            round(element_at(col("__p"), 2), 4).as("median_exact"),
            (col("__approx") >= element_at(col("__p"), 1) &&
              col("__approx") <= element_at(col("__p"), 3)).as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_exact,
             |  TRUE AS within_bound
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q77 — one-pass column profiling (X8's describe face): per-column
    // nulls, exact distincts and min/max over orders in ONE aggregation —
    // profiling a 100 TB table costs one scan, not one job per column.
    // Columns chosen for cross-engine string rendering stability (longs
    // and strings; double/timestamp rendering differs by engine).
    Q("q77_profile",
      (s, dir) => {
        graft.ops.Validate.profile(t(s, dir, "orders"),
            Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
          .orderBy("col_name")
      },
      Some("""SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
             |  n_distinct, min_str, max_str
             |FROM (
             |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
             |    count(DISTINCT o_orderkey) AS n_distinct,
             |    CAST(min(o_orderkey) AS VARCHAR) AS min_str,
             |    CAST(max(o_orderkey) AS VARCHAR) AS max_str
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus', count(*),
             |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT o_orderstatus),
             |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_orderpriority', count(*),
             |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT o_orderpriority),
             |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
             |  FROM orders)
             |ORDER BY col_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q84 — fuzzy string self-join (J7, FuzzyJoin): all customer-name pairs
    // within edit distance 1, via deletion-neighborhood blocking (FastSS) —
    // a keyed variant join + exact thresholded-levenshtein verify, never a
    // cross product. The oracle brute-forces the same thresholded join.
    Q("q84_fuzzy_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        graft.ops.FuzzyJoin.fuzzyJoin(c, "c_custkey", "c_name",
            c, "c_custkey", "c_name", maxDist = 1)
          .filter(col("left_id") < col("right_id"))
          .orderBy("left_id", "right_id")
      },
      Some("""SELECT a.c_custkey AS left_id, b.c_custkey AS right_id,
             |  levenshtein(a.c_name, b.c_name) AS dist
             |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |WHERE levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY left_id, right_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q86 — sorted string aggregation (§2.4, the LISTAGG/string_agg shape):
    // values collected per group and joined in a DETERMINISTIC (sorted)
    // order — collect_list alone is partition-order-dependent and would
    // never hash-match across engines or even across runs.
    Q("q86_string_agg",
      (s, dir) =>
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
            count(lit(1)).as("n_nations"))
          .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |  count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q87 — hopping (sliding) time windows (§2.7): hourly event counts
    // re-evaluated every 30 minutes — each event lands in exactly two
    // overlapping epoch-aligned windows. The oracle materializes the same
    // two slots per event with a UNION ALL over time_bucket.
    Q("q87_hopping_windows",
      (s, dir) =>
        events(s, dir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n"))
          .orderBy("win_start"),
      Some("""WITH g AS (
             |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS win_start
             |  FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
             |         - INTERVAL '30 minutes'
             |  FROM events)
             |SELECT win_start, count(*) AS n FROM g
             |GROUP BY win_start ORDER BY win_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q89 — bounded window frame (§2.7): 3-event moving average of value
    // per user (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) — the frame
    // variant q16's unbounded running sum doesn't cover. Integer-cents
    // exact sum, ONE double division at the end (order-independent).
    Q("q89_moving_average",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            (sum(round(col("value") * 100).cast(DecimalType(18, 0))).over(w)
              .cast("double") / (count(lit(1)).over(w) * 100)).as("mavg3"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(sum(CAST(round(value * 100) AS DECIMAL(18,0))) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |  / (100 * count(*) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS mavg3
             |FROM events
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q91 — correlated scalar subqueries (§2.4/§2.3): orders strictly above
    // their own customer's average order value. Catalyst decorrelates both
    // subqueries into one aggregate join; the comparison runs as the exact
    // integer-free form x·n > S (decimal both sides) so no float average
    // sits on the decision boundary.
    Q("q91_above_customer_avg",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
                |WHERE CAST(o_totalprice AS DECIMAL(18,2))
                |      * (SELECT count(*) FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
                |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                |         FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
             |WHERE CAST(o_totalprice AS DECIMAL(18,2))
             |      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q96 — HLL uniqueness monitoring (X8's 100 TB face): exact and
    // approximate uniqueness run side by side in report's ONE aggregation
    // pass, over a clean key (o_orderkey, unique at every SF) and a
    // ~10×-duplicated one (o_custkey). The exact rows oracle directly; the
    // approx rows pin the monitoring CONTRACT — clean keys reliably report
    // pass, gross duplication reliably reports fail (both hold with ~4σ
    // slack: HLL++ at rsd=0.05 would have to misestimate by >16% / >730%
    // respectively, and the sketch is deterministic for fixed data) — while
    // the sketchy violation estimate itself is nulled out, exactly q53's
    // bounded-flag treatment of approx_count_distinct.
    Q("q96_unique_monitor",
      (s, dir) => {
        import graft.ops.Validate
        Validate.report(t(s, dir, "orders"), Nil,
            Seq(Validate.unique("o_orderkey"),
              Validate.uniqueApprox("o_orderkey"),
              Validate.unique("o_custkey"),
              Validate.uniqueApprox("o_custkey")))
          .select(col("check"),
            when(col("check").startsWith("unique_approx"), lit(null).cast("long"))
              .otherwise(col("n_violations")).as("n_violations"),
            col("n_rows"), col("pass"))
          .orderBy("check")
      },
      Some("""WITH base AS (
             |  SELECT count(*) AS n, count(DISTINCT o_orderkey) AS d1,
             |    count(DISTINCT o_custkey) AS d2 FROM orders)
             |SELECT * FROM (
             |  SELECT 'unique(o_orderkey)' AS "check",
             |    CAST(n - d1 AS BIGINT) AS n_violations, n AS n_rows, n - d1 = 0 AS pass
             |  FROM base
             |  UNION ALL SELECT 'unique_approx(o_orderkey)',
             |    CAST(NULL AS BIGINT), n, TRUE FROM base
             |  UNION ALL SELECT 'unique(o_custkey)',
             |    CAST(n - d2 AS BIGINT), n, n - d2 = 0 FROM base
             |  UNION ALL SELECT 'unique_approx(o_custkey)',
             |    CAST(NULL AS BIGINT), n, FALSE FROM base)
             |ORDER BY "check" """.stripMargin)),

    // ------------------------------------------------------------------
    // q102 — snapshot diff (X7's audit counterpart): yesterday's orders vs
    // a restated version (every 10th price restated, every 100th≡2 key
    // dropped, shifted-key inserts) — one full-outer join keyed on the id,
    // map-only null-safe compare, unchanged rows never emitted. The oracle
    // rebuilds the diff with FULL OUTER JOIN + IS NOT DISTINCT FROM.
    Q("q102_snapshot_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val restated = orders.filter(col("o_orderkey") % 100 =!= 2)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 1.1)
              .otherwise(col("o_totalprice")))
        val added = orders.filter(col("o_orderkey") % 100 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000)
        graft.ops.Ops.snapshotDiff(orders, restated.unionByName(added),
            Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
             |n AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
             |         ELSE o_totalprice END AS o_totalprice
             |  FROM o WHERE o_orderkey % 100 <> 2
             |  UNION ALL
             |  SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
             |  FROM o WHERE o_orderkey % 100 = 1),
             |j AS (
             |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |    o.o_orderstatus AS o_orderstatus_old,
             |    o.o_totalprice AS o_totalprice_old,
             |    n.o_orderstatus AS o_orderstatus_new,
             |    n.o_totalprice AS o_totalprice_new,
             |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
             |         WHEN n.o_orderkey IS NULL THEN 'removed'
             |         WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
             |                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
             |           THEN 'changed' END AS change
             |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
             |SELECT * FROM j WHERE change IS NOT NULL
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q103 — equal-width histogram profiling (X8's distribution face): 20
    // bins of document length over [0, 1000), out-of-range values clamped
    // into edge bins, empty bins explicit. Bin width 50 is exact in binary
    // floating point, so every edge and bin decision is bit-identical
    // across engines with no rounding hygiene needed. Map-only assignment
    // + one 20-row aggregation + broadcast grid join.
    Q("q103_histogram",
      (s, dir) =>
        graft.ops.Ops.histogram(t(s, dir, "documents"), col("n_chars"),
          lo = 0.0, hi = 1000.0, nBins = 20),
      Some("""WITH b AS (
             |  SELECT least(greatest(
             |      CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 50.0) AS INTEGER),
             |      0), 19) AS bin
             |  FROM documents WHERE n_chars IS NOT NULL),
             |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
             |g AS (SELECT CAST(i AS INTEGER) AS bin, 0.0 + i * 50.0 AS lo_edge,
             |        CASE WHEN i = 19 THEN 1000.0 ELSE 0.0 + (i + 1) * 50.0 END AS hi_edge
             |      FROM range(20) t(i))
             |SELECT g.bin, lo_edge, hi_edge, coalesce(n, 0) AS n
             |FROM g LEFT JOIN c USING (bin) ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------------------
    // q138 — equal-frequency histogram (X22's quantile-bin companion,
    // Ops.histogramByQuantile): decile bins over n_chars whose edges are
    // the exact i/10 percentiles, so each bin holds ~1/10 of the corpus no
    // matter the skew. The oracle recomputes the same quantile edges
    // (quantile_cont ≡ Spark percentile, the q90 equivalence) and replays
    // every bin assignment.
    Q("q138_quantile_histogram",
      (s, dir) =>
        graft.ops.Ops.histogramByQuantile(t(s, dir, "documents"),
          col("n_chars"), nBins = 10),
      Some(s"""WITH vals AS (
             |  SELECT CAST(n_chars AS DOUBLE) AS v, n_chars
             |  FROM documents WHERE n_chars IS NOT NULL),
             |e AS (SELECT quantile_cont(n_chars,
             |        [${(0 to 10).map(i => i.toDouble / 10).mkString(", ")}]) AS edges
             |      FROM vals),
             |b AS (SELECT least(len(list_filter(edges[2:10], x -> x <= v)), 9) AS bin
             |      FROM vals, e),
             |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
             |g AS (SELECT CAST(i AS INTEGER) AS bin, edges[i + 1] AS lo_edge,
             |        edges[i + 2] AS hi_edge
             |      FROM e, range(10) t(i))
             |SELECT g.bin, lo_edge, hi_edge, coalesce(n, 0) AS n
             |FROM g LEFT JOIN c USING (bin) ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------------------
    // q104 — PSI drift detection (X8's monitoring face, composing q103's
    // histogram): document-length distribution of the full corpus vs a
    // truncation-drifted snapshot (docs ≤ 300 chars). Per-bin PSI
    // contributions round to 6 then sum in exact DECIMAL; ε-clamped
    // proportions keep one-sided empty bins finite. The oracle replays the
    // identical arithmetic with identical parenthesization.
    Q("q104_psi_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Ops.psi(docs, docs.filter(col("n_chars") <= 300),
          col("n_chars"), lo = 0.0, hi = 1000.0, nBins = 20)
      },
      Some("""WITH ho AS (
             |  SELECT least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS INTEGER), 0), 19) AS bin
             |  FROM documents WHERE n_chars IS NOT NULL),
             |hn AS (
             |  SELECT least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 50.0) AS INTEGER), 0), 19) AS bin
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars <= 300),
             |co AS (SELECT bin, count(*) AS n_old FROM ho GROUP BY bin),
             |cn AS (SELECT bin, count(*) AS n_new FROM hn GROUP BY bin),
             |g AS (SELECT CAST(i AS INTEGER) AS bin, 0.0 + i * 50.0 AS lo_edge,
             |        CASE WHEN i = 19 THEN 1000.0 ELSE 0.0 + (i + 1) * 50.0 END AS hi_edge
             |      FROM range(20) t(i)),
             |j AS (SELECT g.bin, lo_edge, hi_edge,
             |        coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
             |      FROM g LEFT JOIN co USING (bin) LEFT JOIN cn USING (bin)),
             |tt AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM j),
             |p AS (SELECT bin, lo_edge, hi_edge,
             |        greatest(CAST(n_old AS DOUBLE) / t_old, 1e-6) AS po,
             |        greatest(CAST(n_new AS DOUBLE) / t_new, 1e-6) AS pn
             |      FROM j CROSS JOIN tt),
             |c AS (SELECT bin, lo_edge, hi_edge, round(po, 6) AS p_old,
             |        round(pn, 6) AS p_new,
             |        round((pn - po) * ln(pn / po), 6) AS contrib FROM p)
             |SELECT bin, lo_edge, hi_edge, p_old, p_new, contrib,
             |  (SELECT round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6)
             |   FROM c) AS psi
             |FROM c ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------------------
    // q108 — Z-order layout clustering (scan-pruning layout for 100 TB
    // multi-predicate tables): the Morton shuffle must be a pure REORDERING
    // — the oracle is the plain table, so any dropped/duplicated/mutated
    // row hash-fails. The pruning property itself (bounded per-partition
    // spans on EVERY clustered column) is pinned by LayoutSpec, where
    // partition boundaries are observable; a SQL oracle cannot see them.
    Q("q108_zorder_preserves",
      (s, dir) =>
        graft.ops.Layout.zOrderBy(
            t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
            Seq("o_custkey", "o_totalprice"), bits = 12)
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q109 — mergeable distinct sketches (Sketches, the incremental
    // monitoring face of §2.4's HLL path): lineitem split into two
    // "daily batches" by orderkey parity, each sketched independently, the
    // sketches merged WITHOUT re-scanning either batch, and the merged
    // estimate checked against the exact distinct count — q53's
    // bounded-flag contract (the sketch VALUE is engine-internal; within
    // ~4σ of exact at lgK=12 is the portable claim, and SketchesSpec pins
    // merge losslessness separately).
    Q("q109_sketch_merge",
      (s, dir) => {
        import graft.ops.Sketches
        val li = t(s, dir, "lineitem")
        val sk = (parity: Int) => Sketches.distinctSketch(
          li.filter(pmod(col("l_orderkey"), lit(2)) === parity),
          Seq("l_returnflag"), col("l_orderkey"))
        val merged = Sketches.mergeSketches(
          sk(0).unionByName(sk(1)), Seq("l_returnflag"))
        li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("n_orders"))
          .join(merged, "l_returnflag")
          .select(col("l_returnflag"), col("n_orders"),
            (abs(Sketches.estimate(col("sketch")) - col("n_orders"))
              .cast("double") <= col("n_orders") * 0.065).as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
             |  TRUE AS within_bound
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q113 — CSV loader under oracle (S2, the embulk analog's parser
    // semantics): stage fixture rows to a REAL temp CSV — embedded commas
    // and quotes (writer must quote, reader must unquote), nulls (written
    // empty, read back null via nullValue=""), a date column — then load
    // through Ingest.csvLoad with the staged schema and return the landed
    // table. The oracle reads the source parquet directly, so every parser
    // option that mangles a value breaks the hash. (The q98 minting trick
    // generalized to sources: the fixture IS driver-owned parquet; the
    // format round-trip happens inside the query.)
    Q("q113_csv_load",
      (s, dir) => {
        val tmp = workDir("q113").toString
        val staged = t(s, dir, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, lit(null))
              .otherwise(concat(col("o_orderpriority"), lit(", \"q\""))).as("note"),
            col("o_totalprice"),
            to_date(col("o_orderdate")).as("o_date"))
        staged.write.mode("overwrite").option("header", true).csv(s"$tmp/in")
        graft.ingest.Ingest.csvLoad(s, s"$tmp/in",
            Table(s, tmp, "orders_loaded"), staged.schema)
          .read.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
             |       ELSE o_orderpriority || ', "q"' END AS note,
             |  o_totalprice, CAST(o_orderdate AS DATE) AS o_date
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q114 — JSONL loader under oracle (S2's corpus-interchange face),
    // INCLUDING the corrupt-line contract: two unparseable lines ride along
    // with the real documents, and PERMISSIVE mode must land them as
    // all-null rows carrying the raw text in _corrupt_record — not fail the
    // load, not silently drop them. The oracle unions the expected corrupt
    // rows explicitly.
    Q("q114_jsonl_load",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val tmp = workDir("q114").toString
        t(s, dir, "documents")
          .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"),
            col("source"), col("text"))).as("value"))
          .union(Seq("{\"doc_id\": oops", "not json at all").toDF("value"))
          .write.mode("overwrite").text(s"$tmp/in")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))
        graft.ingest.Ingest.jsonlLoad(s, s"$tmp/in",
            Table(s, tmp, "docs_loaded"), schema)
          .read.orderBy(col("doc_id").asc_nulls_last, col("_corrupt_record"))
      },
      Some("""SELECT doc_id, lang, n_chars, source, text,
             |  CAST(NULL AS VARCHAR) AS _corrupt_record
             |FROM documents
             |UNION ALL SELECT NULL, NULL, NULL, NULL, NULL, 'not json at all'
             |UNION ALL SELECT NULL, NULL, NULL, NULL, NULL, '{"doc_id": oops'
             |ORDER BY doc_id NULLS LAST, _corrupt_record""".stripMargin)),

    // ------------------------------------------------------------------
    // q115 — ORC loader under oracle (S2's warehouse-interchange face):
    // stage a lineitem slice to real ORC files, load through
    // Ingest.orcLoad, return the landed table. Schema travels in the ORC
    // files — the round-trip pins both the writer's and reader's mapping.
    Q("q115_orc_load",
      (s, dir) => {
        val tmp = workDir("q115").toString
        t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
          .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
            "l_returnflag")
          .write.mode("overwrite").orc(s"$tmp/in")
        graft.ingest.Ingest.orcLoad(s, s"$tmp/in",
            Table(s, tmp, "li_loaded"))
          .read.orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             |  l_returnflag
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // q116 — table copy under oracle (S4, the CopyTableOperator analog):
    // land nation in a temp dir, copyTo a second name, return the COPY.
    // Values, schema and row count must survive the copy exactly.
    Q("q116_table_copy",
      (s, dir) => {
        val tmp = workDir("q116").toString
        val src = Table(s, tmp, "nation_src")
        src.overwrite(t(s, dir, "nation"))
        src.copyTo("nation_copy").read.orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // ------------------------------------------------------------------
    // q117 — append with schema check under oracle (S9): overwrite one
    // customer slice, append a disjoint slice through the schema-validated
    // path, return the union the table now holds.
    Q("q117_table_append",
      (s, dir) => {
        val tmp = workDir("q117").toString
        val base = t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        val dst = Table(s, tmp, "cust_inc")
        dst.overwrite(base.filter(col("c_custkey") % 3 === 0))
        dst.append(base.filter(col("c_custkey") % 3 === 1))
        dst.read.orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_mktsegment
             |FROM customer WHERE c_custkey % 3 IN (0, 1)
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q118 — replace-with-inferred-schema + synthetic id under oracle
    // (S10): dense=true reproduces the reference's consecutive 0..n-1
    // pandas index, which is exactly the oracle-dependent case its scaladoc
    // reserves it for (the input is pre-sorted, so the id IS the sort
    // rank). The sparse monotonically_increasing_id variant is the scale
    // path and stays spec-pinned (TableSpec) — its values are
    // partition-dependent by design, which no external oracle can replay.
    Q("q118_write_with_schema",
      (s, dir) => {
        val tmp = workDir("q118").toString
        val dst = Table(s, tmp, "supp_indexed")
        dst.writeWithSchema(t(s, dir, "supplier").orderBy("s_suppkey"),
          dense = true)
        dst.read.orderBy("id")
      },
      Some("""SELECT CAST(row_number() OVER (ORDER BY s_suppkey) - 1 AS BIGINT)
             |    AS id, s_suppkey, s_name, s_nationkey, s_acctbal
             |FROM supplier ORDER BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q119 — shapefile → WKB under oracle (S3, the shp2pgsql analog):
    // mint a synthetic Point .shp whose coordinates derive from the record
    // number (the q98 minting trick for geometry), parse with the real
    // dependency-free reader, emit the WKB as hex. The oracle states every
    // record's exact bytes — 0101000000 (LE Point) + the closed-form
    // IEEE-754 patterns of the quarter-valued coordinates — so a parser
    // that mis-reads endianness, offsets or doubles cannot pass. The other
    // shape classes (polyline/polygon/multipoint + Z/M) share this record
    // framing and stay spec-pinned (IngestSpec).
    Q("q119_shapefile_load",
      (s, dir) => {
        val tmp = workDir("q119").resolve("points.shp")
        graft.ingest.Shapefile.syntheticPointShp(tmp, 40)
        graft.ingest.Shapefile.read(s, tmp.toString)
          .select(col("record_no"), col("shape_type"),
            hex(col("geom_wkb")).as("wkb_hex"))
          .orderBy("record_no")
      },
      Some("""SELECT CAST(i AS INTEGER) AS record_no,
             |  CAST(1 AS INTEGER) AS shape_type,
             |  '0101000000' ||
             |  CASE i % 4 WHEN 0 THEN '0000000000000000'
             |             WHEN 1 THEN '000000000000E03F'
             |             WHEN 2 THEN '000000000000F03F'
             |             ELSE '000000000000F83F' END ||
             |  CASE i % 5 WHEN 0 THEN '0000000000000000'
             |             WHEN 1 THEN '000000000000D03F'
             |             WHEN 2 THEN '000000000000E03F'
             |             WHEN 3 THEN '000000000000E83F'
             |             ELSE '000000000000F03F' END AS wkb_hex
             |FROM range(1, 41) t(i) ORDER BY record_no""".stripMargin)),

    // ------------------------------------------------------------------
    // q130 — row iteration under oracle (S7, the reference's iter_rows):
    // toLocalIterator pulls one partition at a time through the driver
    // (bounded memory on any table size — driver-side by DESIGN, the
    // trickle-consumption contract); every row must arrive exactly once,
    // which the round-trip back into a frame pins. The head(n) variant
    // stays spec-pinned (TableSpec) — an unordered LIMIT has no
    // deterministic oracle.
    Q("q130_iter_rows",
      (s, dir) => {
        val tbl = Table(s, dir, "nation")
        val rows = tbl.iterRows().toSeq
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, tbl.schema).orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // ------------------------------------------------------------------
    // q133 — parquet schema-evolution read (S2's long-lived-corpus face):
    // an "old" batch lands (n_nationkey, n_name), a later batch adds
    // n_regionkey; Ingest.parquetEvolvedLoad must reconcile the footers and
    // union BY NAME — old rows surface the new column as NULL, nothing
    // binds by position, nothing is dropped. The oracle derives the same
    // frame from the fixture directly.
    Q("q133_schema_evolution",
      (s, dir) => {
        val tmp = workDir("q133").toString
        val na = t(s, dir, "nation")
        na.filter(col("n_nationkey") < 12).select("n_nationkey", "n_name")
          .write.parquet(s"$tmp/in")
        na.filter(col("n_nationkey") >= 12)
          .select("n_nationkey", "n_name", "n_regionkey")
          .write.mode("append").parquet(s"$tmp/in")
        graft.ingest.Ingest.parquetEvolvedLoad(s, s"$tmp/in",
            Table(s, tmp, "nation_evolved"))
          .read.orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
             |  CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q131 — count-min frequency sketch (X31, the frequency member of the
    // mergeable-sketch trio): lineitem split into two "daily batches" by
    // orderkey parity, each sketched independently, the sketches merged by
    // counter addition WITHOUT re-scanning either batch, then every
    // distinct supplier key's frequency estimated from the merged sketch
    // and compared to its exact count. Unlike the binary HLL/KLL sketches,
    // CMS buckets are md5-prefix hashes, so the DuckDB oracle rebuilds the
    // ENTIRE sketch and replays every estimate EXACTLY — value-equality,
    // not a bound flag (overcount_ok = est >= true rides along as the
    // structural CMS guarantee). Heavy-hitter report: keys estimated over
    // the threshold, which by the no-undercount property can miss nothing.
    Q("q131_cms_heavy_hitters",
      (s, dir) => {
        import graft.ops.Sketches
        val li = t(s, dir, "lineitem")
        val sk = (parity: Int) => Sketches.freqSketch(
          li.filter(pmod(col("l_orderkey"), lit(2)) === parity),
          col("l_suppkey"), depth = 4, width = 512, seed = "cms131")
        val merged = Sketches.mergeFreqSketches(sk(0).unionByName(sk(1)))
        val est = Sketches.freqEstimate(merged, li, "l_suppkey",
          depth = 4, width = 512, seed = "cms131")
        val truth = li.groupBy("l_suppkey").agg(count(lit(1)).as("true_cnt"))
        est.join(truth, "l_suppkey")
          .filter(col("est") >= 500)
          .select(col("l_suppkey"), col("est"), col("true_cnt"),
            (col("est") >= col("true_cnt")).as("overcount_ok"))
          .orderBy("l_suppkey")
      },
      Some(dCmsHeavyHittersSql)),

    // ------------------------------------------------------------------
    // q203 — streaming frequency lifecycle (X31's continuous-ingest face
    // on the X59 versioned handle): day-0 sketches the even-orderkey
    // corpus into state version 0; two micro-batches (the odd quarters)
    // each sketch THEIR OWN rows only and commit version N+1 =
    // merge(version N, batch sketch) through writeVersionIfAbsent — the
    // q197 exactly-once ledger, so a replayed batchId no-ops. History is
    // never re-scanned: per-batch work is batch-sized + the ≤ depth×width
    // state rows, the CMS-linearity contract at production cadence. The
    // final state is BY CONSTRUCTION the q131 sketch of the full table,
    // so the oracle is the SAME replay — lifecycle and batch operator are
    // pinned to one answer.
    Q("q203_streaming_freq_lifecycle",
      (s, dir) => {
        import graft.ops.Sketches
        val li = t(s, dir, "lineitem")
        val work = workDir("q203")
        val state = Table(s, work.toString, "cms_state")
        val sketchOf = (df: DataFrame) => Sketches.freqSketch(
          df, col("l_suppkey"), depth = 4, width = 512, seed = "cms131")
        state.writeVersion(
          sketchOf(li.filter(pmod(col("l_orderkey"), lit(2)) === 0)))
        // the feed carries ONLY the sketched key — staging full fact rows
        // would pay a 16-column write for a 1-column consumer (and on a
        // real bus the producer ships the key stream, not the table)
        val feed = (m: Int) => li.filter(pmod(col("l_orderkey"), lit(4)) === m)
          .select("l_suppkey")
        val onBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
          state.writeVersionIfAbsent(batchId + 1, Sketches.mergeFreqSketches(
            state.readVersion(batchId).unionByName(sketchOf(batch))))
        }
        Staging.fileStream(work, feed(1), feed(3)).drain(onBatch)
        require(state.versions == Seq(0L, 1L, 2L),
          s"lifecycle should commit versions 0,1,2 — got ${state.versions}")
        val est = Sketches.freqEstimate(state.readLatest, li, "l_suppkey",
          depth = 4, width = 512, seed = "cms131")
        val truth = li.groupBy("l_suppkey").agg(count(lit(1)).as("true_cnt"))
        est.join(truth, "l_suppkey")
          .filter(col("est") >= 500)
          .select(col("l_suppkey"), col("est"), col("true_cnt"),
            (col("est") >= col("true_cnt")).as("overcount_ok"))
          .orderBy("l_suppkey")
      },
      Some(dCmsHeavyHittersSql)),

    // ------------------------------------------------------------------
    // q120 — mergeable QUANTILE sketches (X27's percentile sibling, Spark 4
    // DataSketches KLL): sketch each parity-half of lineitem separately,
    // merge the halves, and require the merged sketch's median to land
    // between the exact p40 and p60 — the q109 bounded-flag contract. KLL
    // compaction is randomized, so the sketch VALUE is never asserted, only
    // the rank-error bound (~1.65% at k=200; the p40–p60 window is ~12×
    // that). Cross-batch percentile monitoring without re-scanning history.
    Q("q120_quantile_sketch_merge",
      (s, dir) => {
        import graft.ops.Sketches
        val li = t(s, dir, "lineitem")
        val sk = (parity: Int) => Sketches.quantileSketch(
          li.filter(pmod(col("l_orderkey"), lit(2)) === parity),
          Seq("l_returnflag"), col("l_orderkey"))
        val merged = Sketches.mergeQuantileSketches(
          sk(0).unionByName(sk(1)), Seq("l_returnflag"))
        li.groupBy("l_returnflag")
          .agg(expr("percentile(l_orderkey, array(0.4, 0.5, 0.6))").as("__p"))
          .join(merged, "l_returnflag")
          .select(col("l_returnflag"),
            round(element_at(col("__p"), 2), 4).as("median_exact"),
            (Sketches.quantileEstimate(col("qsketch"), 0.5).cast("double")
              >= element_at(col("__p"), 1) &&
              Sketches.quantileEstimate(col("qsketch"), 0.5).cast("double")
                <= element_at(col("__p"), 3)).as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_orderkey, 0.5), 4) AS median_exact,
             |  TRUE AS within_bound
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q121 — chunked scan under oracle (S6, the reference's pandas
    // `chunksize` contract): readChunksOf(64) must deliver ⌈n/64⌉ chunks
    // that together hold EXACTLY the table — no row lost or duplicated by
    // the round-robin redistribution. The chunk count is observed from the
    // realized partitioning (spark_partition_id BEFORE any further
    // exchange); the oracle derives the same count arithmetically.
    Q("q121_chunked_scan",
      (s, dir) => {
        val chunks = Table(s, dir, "documents").readChunksOf(64)
        val nCh = chunks.select(spark_partition_id().as("p"))
          .agg(countDistinct(col("p")).cast("int").as("n_chunks"))
        chunks.select(col("doc_id"), col("lang"))
          .crossJoin(broadcast(nCh))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
             |  (SELECT CAST(ceil(count(*) / 64.0) AS INTEGER) FROM documents)
             |    AS n_chunks
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q122 — buffered row writer under oracle (S8's trickle face): nation
    // rows trickle one at a time through RowWriter with chunkSize 7 — three
    // full flushes plus a close-flush of the 4-row tail — and the landed
    // table must equal the source exactly. Driver-side by nature (the
    // reference's buffered-INSERT writer); bulk volume goes through
    // append/overwrite, which q117 pins.
    Q("q122_row_writer",
      (s, dir) => {
        val tmp = workDir("q122").toString
        val src = t(s, dir, "nation")
        val dst = Table(s, tmp, "nation_trickle")
        val w = dst.writer(src.schema, chunkSize = 7)
        try src.orderBy("n_nationkey").collect().foreach(w.writeRow)
        finally w.close()
        dst.read.orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // ------------------------------------------------------------------
    // q123 — training-shard writer under oracle (S8's bulk face):
    // overwriteSharded bounds rows per output file (dataloader shards);
    // the content contract — every row lands exactly once regardless of
    // how maxRecordsPerFile splits task outputs — is what the oracle pins.
    // Shard-size bounds themselves are file-level, spec-pinned.
    Q("q123_sharded_write",
      (s, dir) => {
        val tmp = workDir("q123").toString
        val dst = Table(s, tmp, "cust_shards")
        dst.overwriteSharded(t(s, dir, "customer"), rowsPerShard = 100L)
        dst.read.orderBy("c_custkey")
      },
      Some("SELECT * FROM customer ORDER BY c_custkey")),

    // ------------------------------------------------------------------
    // q124 — schema put/get under oracle (S11, the reference's
    // write_dtype): writeSchema lands an EMPTY table carrying an explicit
    // dtype; reading it back must reproduce the exact column names and
    // types (the driver compares arrow schemas), with zero rows. This is
    // the one query whose whole value IS the schema_match bit.
    Q("q124_schema_roundtrip",
      (s, dir) => {
        val tmp = workDir("q124").toString
        val dst = Table(s, tmp, "part_empty")
        dst.writeSchema(Table(s, dir, "part").schema)
        dst.read
      },
      Some("SELECT * FROM part WHERE FALSE")),

    // ------------------------------------------------------------------
    // q125 — typed rows under oracle (S12, the reference's ORM `reflect`):
    // a case-class Dataset round-trip — parquet schema → encoder →
    // object-level filter/map → back to rows. The typed lambdas force real
    // deserialization into NationRow instances (the encoder mapping is the
    // thing under test), unlike a Column-only plan that never leaves
    // Tungsten rows.
    Q("q125_typed_rows",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        Table(s, dir, "nation").typed[NationRow]
          .filter((n: NationRow) => n.n_regionkey % 2 == 0)
          .map((n: NationRow) => (n.n_nationkey, n.n_name.toLowerCase, n.n_regionkey))
          .toDF("n_nationkey", "name_lower", "n_regionkey")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, lower(n_name) AS name_lower, n_regionkey
             |FROM nation WHERE n_regionkey % 2 = 0
             |ORDER BY n_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q149 — bucketed co-located join (§4's shuffle-elimination layout,
    // the write-side dual of q108's read-side Z-order): customer and
    // orders are staged ONCE as bucketed tables hash-clustered on the
    // join key, and the join + per-customer aggregation then plan with
    // ZERO Exchange on either side — the plan shape PlanAuditSpec pins.
    // The oracle is the plain join: bucketing must be invisible in values
    // (any row lost to a bucket-spec mistake hash-fails here), its payoff
    // visible only in the plan. Write-once, join-forever is the 100 TB
    // contract: the fact-table shuffle moves from every query to one
    // staging write.
    Q("q149_bucketed_join",
      (s, dir) => {
        val tmp = workDir("q149").toString
        // allowReplace: this session owns these names and re-points them
        // at a fresh temp dir every invocation (Bench runs the suite twice)
        graft.ops.Layout.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_name"),
          "q149_customer", s"$tmp/customer", Seq("c_custkey"), 8,
          sortCols = Seq("c_custkey"), allowReplace = true)
        graft.ops.Layout.writeBucketed(
          t(s, dir, "orders").select("o_custkey", "o_totalprice"),
          "q149_orders", s"$tmp/orders", Seq("o_custkey"), 8,
          sortCols = Seq("o_custkey"), allowReplace = true)
        val c = s.table("q149_customer")
        val o = s.table("q149_orders")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_orders"),
            graft.ops.Ops.sumDec(col("o_totalprice")).as("total_spend"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q184 — STREAMING session transcripts (X57 meets §2.7, the q67
    // pairing for q183): the same ordered per-session event-type
    // sequences, assembled by session_window inside a watermarked
    // streaming aggregation — append mode emits each transcript exactly
    // once, when the watermark closes its session. The oracle replays
    // q183's lag-gap algorithm PLUS the eviction predicate (only
    // watermark-closed sessions appear), so the emission semantics
    // themselves sit under the hash.
    Q("q184_streaming_session_transcripts",
      (s, dir) => {
        import graft.streaming.Streams
        runMicroBatch(s, dir, "q184", OutputMode.Append()) { stream =>
          Streams.sessionTranscripts(
            Streams.withBoundedLateness(stream, "10 minutes"),
            gap = "10 minutes", token = col("event_type"))
        }.orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |    event_id, event_type FROM events),
             |m AS (SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
             |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |        > 600000000 THEN 1 ELSE 0 END AS nw
             |      FROM e),
             |sx AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
             |         ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |       FROM m)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             |  string_agg(event_type, ' > ' ORDER BY ts, event_id) AS transcript
             |FROM sx GROUP BY user_id, sid
             |HAVING max(ts) + INTERVAL 10 MINUTE
             |       <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
             |ORDER BY user_id, session_start""".stripMargin))
  ) :+ pipelineQuery

  /** Monotonic suffix for the streaming queries' memory-sink names: Bench
    * runs the suite twice in one session, and a reused queryName collides. */
  private val streamingSinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `transform` over the events fixture as an ACTUAL Structured
    * Streaming micro-batch — file source, incremental execution, memory
    * sink — and return the drained sink as a batch frame.
    *
    * The streaming file source monitors a DIRECTORY; the fixture is a single
    * parquet file, so it is staged into a temp dir (deleted once the stream
    * has drained — repeated invocations must not accumulate fixture-sized
    * temp dirs). In production the source would already be a landing
    * directory. The single staged file arrives as one micro-batch;
    * `processAllAvailable` additionally waits out the no-data batch Spark
    * runs when the watermark advances, so append-mode sinks hold every
    * row the final watermark allows. */
  private def runMicroBatch(s: SparkSession, dir: String, tag: String,
      mode: OutputMode)(transform: DataFrame => DataFrame): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    // ts arrives as nanos-long OR native timestamp depending on the
    // fixture's vintage; normalizeTs dispatches on the scanned type
    val schema = Parquet.scan(s, path).schema
    val streamDir = workDir(s"$tag-events")
    val staged = streamDir.resolve("events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(path), staged)
    val stream = normalizeTs(s.readStream.schema(schema).parquet(streamDir.toString))
    val sink = s"${tag}_sink_${streamingSinkId.incrementAndGet()}"
    // Streaming state is partitioned by spark.sql.shuffle.partitions AT
    // QUERY START, and every micro-batch pays per-partition state-store
    // maintenance (snapshot/commit file I/O) regardless of row counts — at
    // local fixture scale that fixed cost dominates (a stream-stream join
    // runs TWO stores per partition). 8 state partitions is plenty for the
    // fixture while the surrounding batch plans keep the session's 32. On a
    // real cluster state partitions should instead match executor
    // parallelism — this override is scoped to the local harness, results
    // are partitioning-independent either way.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val query =
      try transform(stream).writeStream.format("memory").queryName(sink)
        .outputMode(mode).start()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    try query.processAllAvailable() finally {
      query.stop()
      java.nio.file.Files.deleteIfExists(staged)
      java.nio.file.Files.deleteIfExists(streamDir)
    }
    s.table(sink)
  }

  /** q59 — the reference's central workflow shape (README.md:85-171: load →
    * join → derive → filter → aggregate, each Airflow task writing a table
    * the next reads), run through `graft.pipeline.Pipeline` as a
    * driver-checked query. The join stage is MATERIALIZED to parquet — a
    * real task→table→task boundary in the middle of the DAG, exactly where
    * a 100 TB run wants its recovery point — and downstream stages read the
    * artifact back. The oracle is the composed SQL, so the materialization
    * round-trip (schema + values through parquet) is itself under test. */
  // lazy: referenced by `queries` above, which initializes first in
  // declaration order — a strict val would still be null when appended
  private[queries] lazy val pipelineQuery: Q =
    Q("q59_pipeline_e2e",
      (s, dir) => {
        import graft.pipeline.{Pipeline, Stage}
        val ckpt = workDir("q59").toString
        val pipe = new Pipeline(Seq(
          Stage("customers", Nil, _ => t(s, dir, "customer")),
          Stage("geo", Seq("customers"), deps => {
            val nat = t(s, dir, "nation").renamed("n_nationkey" -> "c_nationkey")
            deps("customers").joinMerged(broadcast(nat), Seq("c_nationkey"))
          }),
          Stage("solvent", Seq("geo"), deps =>
            deps("geo").filterRows(col("c_acctbal") > 0)),
          Stage("by_nation", Seq("solvent"), deps =>
            deps("solvent").groupBy(col("n_name"))
              .agg(count(lit(1)).as("n_customers"),
                graft.ops.Ops.sumDec(col("c_acctbal")).as("total_balance"))
              .orderBy("n_name"))))
        pipe.run(s, Some(ckpt), materialize = Set("geo"))("by_nation")
      },
      Some("""SELECT n_name, count(*) AS n_customers,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
             |FROM customer JOIN nation ON n_nationkey = c_nationkey
             |WHERE c_acctbal > 0
             |GROUP BY n_name
             |ORDER BY n_name""".stripMargin))
}
