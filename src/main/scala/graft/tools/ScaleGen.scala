package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only sf-multiplier for the SCALING study: writes an N× copy of a
  * fixture directory as N key-remapped DISJOINT shards, so the result is
  * "N× the data at the SAME density" — the clean scaling-measurement
  * shape (VERDICT r13 ask #1).
  *
  * Why shard replication instead of DuckDB's `dbgen`: the fixtures are a
  * CUSTOM synthetic star schema (reduced columns, seed-42 distributions,
  * plus `events`/`documents`/`embeddings` that no TPC-H generator
  * produces). Replicating shards preserves every distribution the
  * operators see — join fan-outs, group cardinality ratios, text length,
  * tie mass — exactly, which makes t(sf1)/t(sf0.1) a pure VOLUME
  * exponent; dbgen would change the distributions and the documents
  * tables would still need a bespoke path.
  *
  * Disjointness transforms (copy k of N):
  *  - every entity key offsets by k·1e6 (orderkey, custkey, partkey,
  *    suppkey, event_id, user_id, doc_id, vec_id) — each copy is a
  *    self-contained universe, so per-key joins scale linearly by
  *    construction and per-DIMENSION groups (nation, event_type, source)
  *    get N× the rows, which is what real growth does;
  *  - document TEXT gets a per-copy suffix on EVERY token (copy 0 is
  *    identity): copies share no shingles, so near-dup/MinHash/decontam
  *    density per band bucket stays CONSTANT as volume grows — the
  *    conservative assumption; real corpora duplicate MORE at scale,
  *    and the candidate-cap knobs are the operators' answer to that;
  *  - embeddings rotate dimensions cyclically by 6k (norms and
  *    within-copy geometry preserved; cross-copy similarity scrambled),
  *    so ANN cell occupancy scales, not collapses;
  *  - events keep their calendar (same time range, N× the users/day —
  *    what real growth does to a window).
  *
  * Output mimics the fixture layout (ONE parquet file per table) so scan
  * parallelism differences don't contaminate the ratio.
  *
  * Run: `sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1
  * /root/repo/scaledata/sf1 10"` (the out dir is gitignored). */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <outDir> <copies>")
    val Array(src, out, copiesS) = args
    val copies = copiesS.toInt
    require(copies >= 1 && copies <= 100, s"copies in [1,100], got $copies")
    val spark = Harness.session()

    // one row per copy index, cross-joined to stamp shard ids
    val ks = spark.range(copies).select(col("id").cast("long").as("__k"))

    def shard(name: String, keyCols: Seq[String],
        extra: DataFrame => DataFrame = identity): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      // the per-copy key offset must exceed every key in the fixture, or
      // copies collide and the disjoint-universes invariant the scaling
      // exponents rely on silently breaks — derive it from max(key)+1
      // (floor 1e6 keeps outputs identical to the historical constant for
      // every fixture whose keys fit, i.e. all sf<=0.1 tables)
      val keyAggs = keyCols.map(c =>
        coalesce(max(col(c).cast("long")), lit(0L)).as(s"__max_$c"))
      val maxKey = base.agg(keyAggs.head, keyAggs.tail: _*).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).max
      val OFF = math.max(1000000L, maxKey + 1L)
      val crossed = base.crossJoin(ks)
      val keyed = keyCols.foldLeft(crossed) { (df, c) =>
        df.withColumn(c, col(c) + col("__k") * OFF)
      }
      extra(keyed).drop("__k")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$copies written")
    }

    // dimensions are copied UNCHANGED (growth adds facts, not regions)
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[scalegen] $n copied")
    }
    shard("customer", Seq("c_custkey"))
    shard("supplier", Seq("s_suppkey"))
    shard("part", Seq("p_partkey"))
    shard("orders", Seq("o_orderkey", "o_custkey"))
    shard("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shard("events", Seq("event_id", "user_id"))
    shard("documents", Seq("doc_id"), df => df
      .withColumn("text", when(col("__k") === 0, col("text"))
        .otherwise(array_join(transform(
          filter(split(col("text"), "\\s+"), t => length(t) > 0),
          t => concat(t, lit("zz"), col("__k"))), " ")))
      .withColumn("n_chars", length(col("text"))))
    shard("embeddings", Seq("vec_id"), df => df
      .withColumn("embedding", {
        val dim = 64
        val sh = pmod(col("__k") * 6, lit(dim))
        when(col("__k") === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), sh + 1, lit(dim) - sh),
          slice(col("embedding"), lit(1), sh)))
      }))
    spark.stop()
  }
}
