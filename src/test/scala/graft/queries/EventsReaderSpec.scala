package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Regression pin for the round-7 outage: the events fixture regenerated
  * from INT64 TIMESTAMP(NANOS) to plain timestamp[us] and the pinned
  * nanos→micros reader errored on all 15 event-time queries. `normalizeTs`
  * must dispatch on the SCANNED type, producing the same session-tz
  * TIMESTAMP microseconds from every layout the fixture has ever shipped.
  */
class EventsReaderSpec extends SparkSpec {

  import spark.implicits._

  // 2024-03-01 12:00:00.000001 UTC with 731 stray nanos — exercises both
  // the sub-microsecond floor and a value far from the epoch.
  private val micros = 1709294400000001L
  private val nanos  = micros * 1000L + 731L

  test("normalizeTs: nanos-as-long floors to the containing microsecond") {
    val df = Seq(nanos, -999L).toDF("ts") // negative: pre-1970 floor, not toward-zero
    val out = Relational.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    val got = out.select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(got == Seq(micros, -1L)) // -999ns floors to -1us, not 0
  }

  test("normalizeTs: tz-naive timestamp[us] casts to session-tz TIMESTAMP, value-stable under UTC") {
    val df = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(df.schema("ts").dataType == TimestampNTZType)
    val out = Relational.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeTs: an already-tz-aware timestamp passes through untouched") {
    val df = Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    assert(Relational.normalizeTs(df) eq df)
  }

  test("normalizeTs: any other ts type fails loudly, not with a wrong plan") {
    val bad = Seq("2024-03-01").toDF("ts")
    val e = intercept[IllegalStateException](Relational.normalizeTs(bad))
    assert(e.getMessage.contains("events.ts"))
  }

  test("events(): reads the micros-vintage fixture end-to-end as TIMESTAMP") {
    val dir = graft.core.Scratch.workDir("events-spec")
    // What the round-7+ generator writes: tz-naive timestamp[us] parquet
    // (Spark writes NTZ as naive micros, matching pyarrow's timestamp[us]).
    Seq((1L, Timestamp.valueOf("2024-03-01 12:00:00"), "click"))
      .toDF("event_id", "ts", "etype")
      .select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"), col("etype"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.events(spark, dir.toString)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as[String].head()
      == "2024-03-01 12:00:00")
  }
}
