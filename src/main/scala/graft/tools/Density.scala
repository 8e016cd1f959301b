package graft.tools

import Harness.r3
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Parquet

/** Dev-only DENSITY-ramp probe (VERDICT r14 ask #2's second half): the
  * SCALING study holds density constant by construction (disjoint
  * shards), so it measures VOLUME exponents only. This tool ramps the
  * three densities the candidate-cap knobs exist for and measures how
  * each operator approaches its cap:
  *
  *  - near-dup DUPLICATE RATE: a pool of 50 documents is re-keyed into
  *    the corpus `c` times, so those band buckets fill linearly in c and
  *    the candidate pairs grow ~ 50·c²/2 — the density quadratic
  *    `maxBucketSize` bounds. Measured uncapped (the approach) and with
  *    a binding cap (the knee: a logged deterministic drop, work
  *    flattened, never a failure).
  *  - IVF CELL FILL: a fraction f of embeddings is replaced by one fixed
  *    vector, collapsing f·N rows into one cell whose refine self-join
  *    is (f·N)² — `maxCellSize`'s reason. Same uncapped/capped pairing.
  *  - BASKET SIZE: lineitem baskets are item-multiplied ×m (disjoint
  *    part-key shifts), so pair fan-out grows m² — until `maxBasketSize`
  *    REFUSES (this knob refuses rather than degrades: a fat basket is
  *    an upstream modeling error, not a samplable nuisance). The refusal
  *    boundary is probed explicitly.
  *
  * Prints one JSON line per measurement:
  * `{"metric":"density","probe":...,"level":...,"sec":...,"rows":...,
  * "capped":...}`. Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Density"`. */
object Density {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)

    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def emit(probe: String, level: String, sec: Double, rows: Long,
        capped: Boolean): Unit =
      println(s"""{"metric":"density","probe":"$probe","level":"$level",""" +
        s""""sec":${r3(sec)},"rows":$rows,"capped":$capped}""")

    // ---------------- near-dup duplicate-rate ramp -------------------
    val docs = Parquet.scan(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .persist()
    val pool = docs.orderBy("doc_id").limit(50).persist()
    pool.count()
    def dupCorpus(copies: Int): DataFrame =
      if (copies == 0) docs
      else docs.unionByName(pool.crossJoin(
          spark.range(1, copies + 1).select(col("id").as("__c")))
        .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
          col("text")))
    Seq(0, 4, 8, 16, 32).foreach { c =>
      val (sec, rows) = timed(graft.dedup.Dedup.minHashLshPairs(
        dupCorpus(c), "doc_id", "text").count())
      emit("neardup_dup_rate", s"copies=$c", sec, rows, capped = false)
    }
    // the knee: a binding bucket cap flattens the quadratic to cap²
    // per bucket with a LOGGED drop — work bounded, run still succeeds
    val (secCap, rowsCap) = timed(graft.dedup.Dedup.minHashLshPairs(
      dupCorpus(32), "doc_id", "text", maxBucketSize = 8).count())
    emit("neardup_dup_rate", "copies=32", secCap, rowsCap, capped = true)
    pool.unpersist(); docs.unpersist()

    // ---------------- IVF cell-fill ramp -----------------------------
    val emb = Parquet.scan(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .persist()
    val first = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0)
    def cellCorpus(fPct: Int): DataFrame =
      emb.withColumn("embedding",
        when(pmod(col("vec_id"), lit(100)) < fPct, typedLit(first))
          .otherwise(col("embedding")))
    Seq(0, 10, 25, 50).foreach { f =>
      val (sec, rows) = timed(graft.sim.Similarity.semDedup(
        cellCorpus(f), "vec_id", "embedding", threshold = 0.99).count())
      emit("ivf_cell_fill", s"dup_pct=$f", sec, rows, capped = false)
    }
    val (secCell, rowsCell) = timed(graft.sim.Similarity.semDedup(
      cellCorpus(50), "vec_id", "embedding", threshold = 0.99,
      maxCellSize = 256).count())
    emit("ivf_cell_fill", "dup_pct=50", secCell, rowsCell, capped = true)
    emb.unpersist()

    // ---------------- basket-size ramp -------------------------------
    val li = Parquet.scan(spark, s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).persist()
    def baskets(mult: Int): DataFrame =
      (1 to mult).map(k => li.select(col("l_orderkey"),
        (col("l_partkey") + lit((k - 1) * 10000000L)).as("l_partkey")))
        .reduce(_ unionByName _)
    Seq(1, 2, 4, 8).foreach { m =>
      val (sec, rows) = timed(graft.ops.Associations.pairRules(
        baskets(m), col("l_orderkey"), col("l_partkey"),
        minSupportMicro = 200L).count())
      emit("basket_size", s"mult=$m", sec, rows, capped = false)
    }
    // the refusal boundary: X97 REFUSES fat baskets rather than degrade
    val refused = scala.util.Try(graft.ops.Associations.pairRules(
      baskets(8), col("l_orderkey"), col("l_partkey"),
      minSupportMicro = 200L, maxBasketSize = 16L).count())
    emit("basket_size", "mult=8,maxBasketSize=16",
      0.0, -1, capped = refused.isFailure)
    li.unpersist()

    // ---------------- segment-tags-per-member ramp (X107) ------------
    // each member is tagged into t segments (t disjoint banks of 64
    // residue classes), so the member-keyed self-join fans out C(t,2)
    // pairs per member — the quadratic `maxSegsPerMember` exists for.
    // The knob REFUSES (the X97 stance): probed at the boundary.
    val members = Parquet.scan(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("m")).persist()
    members.count()
    def tagged(t: Int): DataFrame =
      members.crossJoin(spark.range(t).select(col("id").as("__k")))
        .select(col("m"), concat(lit("s"), col("__k"), lit("_"),
          pmod(col("m"), lit(64))).as("seg"))
    Seq(2, 4, 8, 16).foreach { t =>
      val (sec, rows) = timed(graft.ops.Associations.segmentOverlap(
        tagged(t), col("seg"), col("m")).count())
      emit("segs_per_member", s"tags=$t", sec, rows, capped = false)
    }
    val segRefused = scala.util.Try(graft.ops.Associations.segmentOverlap(
      tagged(16), col("seg"), col("m"), maxSegsPerMember = 8L).count())
    emit("segs_per_member", "tags=16,maxSegsPerMember=8",
      0.0, -1, capped = segRefused.isFailure)
    members.unpersist()

    // ---------------- FastSS variant-bucket ramp (X16) ---------------
    // strings drawn from a pool of P distinct values: every deletion
    // variant's bucket fills to ~N/P per side, so candidate pairs grow
    // ~N²/P as P shrinks — `maxVariantBucket` flattens it with a logged
    // deterministic drop (a cap, not a refusal: q84's documented knob).
    val strs = Parquet.scan(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id")).persist()
    strs.count()
    def pooled(p: Int): DataFrame =
      strs.select(col("id"), expr(
        s"concat('w', lpad(CAST(pmod(id, $p) AS STRING), 8, '0'))").as("s"))
        .persist()
    Seq(4096, 256, 64, 16).foreach { p =>
      val dfp = pooled(p)
      dfp.count()
      val (sec, rows) = timed(graft.ops.FuzzyJoin.fuzzyJoin(
        dfp, "id", "s", dfp, "id", "s", maxDist = 1).count())
      emit("fastss_bucket", s"pool=$p", sec, rows, capped = false)
      dfp.unpersist()
    }
    val df16 = pooled(16); df16.count()
    val (secFz, rowsFz) = timed(graft.ops.FuzzyJoin.fuzzyJoin(
      df16, "id", "s", df16, "id", "s", maxDist = 1,
      maxVariantBucket = 32).count())
    emit("fastss_bucket", "pool=16,maxVariantBucket=32", secFz, rowsFz,
      capped = true)
    df16.unpersist(); strs.unpersist()

    // ---------------- polygon cell-fan-out ramp (X95/X99) ------------
    // 100 squares of side w on a 10k×10k point field at cellSize=100:
    // each polygon registers (w/100+1)² grid cells, so the prefilter's
    // fan-out grows quadratically in w — `maxCellsPerPoly` REFUSES past
    // the boundary (cells are a prefilter, not a precision knob).
    val pts = Parquet.scan(spark, s"$sfDir/orders.parquet")
      .select(col("o_orderkey").cast("long").as("pid"),
        pmod(col("o_custkey") * 13L, lit(10000L)).as("x"),
        pmod(col("o_orderkey") * 7L, lit(10000L)).as("y")).persist()
    pts.count()
    def squares(w: Int): DataFrame =
      spark.range(100).select(col("id").as("poly_id"),
        (pmod(col("id"), lit(10)) * 1000L).as("__x0"),
        (expr("id DIV 10") * 1000L).as("__y0"))
        .select(col("poly_id"), expr(
          s"""array(struct(__x0 AS x, __y0 AS y),
             |      struct(__x0 + $w AS x, __y0 AS y),
             |      struct(__x0 + $w AS x, __y0 + $w AS y),
             |      struct(__x0 AS x, __y0 + $w AS y))""".stripMargin)
          .as("poly"))
    // the default cap (4096) already bites at side=6400 — the approach
    // measurement lifts it EXPLICITLY (8192), which is itself the knob's
    // documented escape hatch for legitimately-large polygons
    Seq(100, 400, 1600, 6400).foreach { w =>
      val (sec, rows) = timed(graft.ops.Spatial.containsJoin(
        pts, col("pid"), col("x"), col("y"),
        squares(w), col("poly_id"), col("poly"), cellSize = 100L,
        maxCellsPerPoly = 8192L).count())
      emit("poly_cell_fanout", s"side=$w", sec, rows, capped = false)
    }
    val polyRefused = scala.util.Try(graft.ops.Spatial.containsJoin(
      pts, col("pid"), col("x"), col("y"),
      squares(6400), col("poly_id"), col("poly"), cellSize = 100L,
      maxCellsPerPoly = 256L).count())
    emit("poly_cell_fanout", "side=6400,maxCellsPerPoly=256",
      0.0, -1, capped = polyRefused.isFailure)
    pts.unpersist()
    spark.stop()
  }
}
