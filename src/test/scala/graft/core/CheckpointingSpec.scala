package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.ops.Graph

/** Pins the reliable-checkpoint knob of the iterative operators: both
  * truncation strategies yield bit-identical results, lineage is actually
  * cut (the returned plan is a scan of materialized partitions, not the
  * loop's join chain), and the reliable mode really lands files in the
  * caller's directory (the fault-tolerance it exists to buy). */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private def reliableDir() =
    Scratch.workDir("ckpt").toString

  test("truncate cuts lineage in both modes") {
    val base = (1L to 100L).toDF("x")
    val chained = (1 to 5).foldLeft(base)((df, i) =>
      df.withColumn("x", col("x") + i).groupBy("x").count().select("x"))
    assert(chained.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    val local = Checkpointing.truncate(chained, eager = true, None)
    assert(!local.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      "localCheckpoint left the join/agg chain in the plan")
    val dir = reliableDir()
    val rel = Checkpointing.truncate(chained, eager = true, Some(dir))
    assert(!rel.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      "reliable checkpoint left the join/agg chain in the plan")
    // reliable mode wrote real checkpoint state to the caller's dir
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(dir)).nonEmpty,
      "reliable checkpoint landed no files in the checkpoint dir")
    assert(local.as[Long].collect().sorted.toSeq ==
      rel.as[Long].collect().sorted.toSeq)
  }

  test("every loop: reliable checkpoint == localCheckpoint, bit-identical") {
    // K4 on 1..4 with the tail 4→5→6→7: several rounds in every loop, a
    // peel for kCore, two communities' worth of structure for
    // labelPropagation
    val pairs = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val g = pairs.toDF("src", "dst")
    val w = pairs.map { case (a, b) => (a, b, (a + b) % 3 + 1) }
      .toDF("src", "dst", "w")
    // 1→2→3→1 costs −1: a negative cycle reachable from 1
    val negative = (pairs.map { case (a, b) => (a, b, 2L) } ++
      Seq((3L, 1L, -5L))).toDF("src", "dst", "w")
    val one = Seq(1L).toDF("id")
    val seeds = Seq(1L, 5L).toDF("id")
    val tree = Graph.ssspPaths(w, one, maxIters = 10)
    val loops: Seq[(String, Option[String] => DataFrame)] = Seq(
      "pageRank (q132 fixture)" -> (dir => Graph.pageRank(
        ((1L to 5L).map(_ -> 6L) :+ (6L -> 1L)).toDF("src", "dst"),
        iterations = 8, checkpointDir = dir)),
      "personalizedPageRank" -> (dir =>
        Graph.personalizedPageRank(g, one, iterations = 6, checkpointDir = dir)),
      "hits" -> (dir => Graph.hits(g, iterations = 4, checkpointDir = dir)),
      "bfsLevels" -> (dir =>
        Graph.bfsLevels(g, one, maxDepth = 10, checkpointDir = dir)),
      "sssp" -> (dir => Graph.sssp(w, one, maxIters = 10, checkpointDir = dir)),
      "negativeCycleWitnesses" -> (dir =>
        Graph.negativeCycleWitnesses(negative, one, checkpointDir = dir)),
      "kCore" -> (dir => Graph.kCore(g, 2, checkpointDir = dir)),
      "labelPropagation" -> (dir =>
        Graph.labelPropagation(g, checkpointDir = dir)),
      "walkPaths" -> (dir => Graph.walkPaths(tree, (1L to 8L).toDF("id"),
        maxHops = 10, checkpointDir = dir)),
      "harmonicCentrality" -> (dir => Graph.harmonicCentrality(g, seeds,
        maxDepth = 10, undirected = true, checkpointDir = dir)),
      "betweennessSampled" -> (dir => Graph.betweennessSampled(g, seeds,
        maxDepth = 10, undirected = true, checkpointDir = dir)))
    for ((name, run) <- loops) {
      def rows(dir: Option[String]) =
        run(dir).collect().map(_.toString).sorted.toSeq
      val local = rows(None)
      assert(local.nonEmpty, s"$name: empty fixture result")
      assert(rows(Some(reliableDir())) == local, name)
    }
  }

  test("connectedComponents + star: reliable == local (q37 fixture shape)") {
    // two chains and a singleton — enough rounds to exercise truncation
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 12L).toDF("id")
    def asMap(df: DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L) ++ (5L to 9L).map(i => i -> i) ++ Seq(12L -> 12L)
    assert(asMap(Dedup.connectedComponents(pairs, nodes, "id")) == expected)
    assert(asMap(Dedup.connectedComponents(pairs, nodes, "id",
      checkpointDir = Some(reliableDir()))) == expected)
    assert(asMap(Dedup.connectedComponentsStar(pairs, nodes, "id")) == expected)
    assert(asMap(Dedup.connectedComponentsStar(pairs, nodes, "id",
      checkpointDir = Some(reliableDir()))) == expected)
  }
}
