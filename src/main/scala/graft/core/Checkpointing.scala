package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Per-round lineage truncation for iterative operators (PageRank,
  * connected components, any loop whose round-N plan would otherwise
  * replay rounds 1..N−1).
  *
  * Two strategies, caller-selected via `reliableDir`:
  *
  *  - `None` → `localCheckpoint`: partitions persist in executor
  *    block-manager storage. Zero extra IO — the right default on
  *    `local[n]` and on clusters where a rare executor loss may
  *    acceptably fail the job (the lineage is GONE; Spark cannot
  *    recompute a lost block). The partitions are PINNED to the
  *    executors holding them, so dynamic allocation must not reap them
  *    mid-loop.
  *  - `Some(dir)` → reliable `checkpoint` into `dir` (HDFS/S3A/local):
  *    partitions are written to fault-tolerant storage, so an executor
  *    loss recomputes nothing and kills nothing — the multi-node
  *    production setting the operators' scaladocs tell callers to
  *    prefer. Costs one write+read of the frame per round; round frames
  *    in these operators are node-sized (never corpus-sized), so the IO
  *    is the cheap insurance, not a second shuffle.
  *
  * Both strategies truncate identically — the returned frame's plan is a
  * scan of materialized partitions, not the loop's join chain
  * (CheckpointingSpec pins that, and that both modes produce identical
  * results). `eager` mirrors the Dataset API: eager materializes now;
  * lazy defers to the caller's next action. Iterative operators run
  * their rounds through [[loop]]; [[truncate]] is for one-shot cuts.
  *
  * The checkpoint dir is SparkContext-global; this sets it only when this
  * helper hasn't already set the SAME dir for the context. The
  * already-set test cannot read the context back: `setCheckpointDir`
  * stores a fs-qualified per-CALL random UUID subdirectory of the given
  * dir, so `getCheckpointDir` never equals the caller's string — a
  * read-back comparison re-sets every round, paying a mkdirs round-trip
  * per iteration and scattering each round into a fresh UUID dir. The
  * last dir set is cached here instead. Files accumulate for the
  * session — callers owning `dir` should clean it after the loop (Spark
  * only auto-cleans with
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, off by default).
  *
  * Concurrency contract: the check-and-set runs inside
  * `ConcurrentHashMap.compute`, so two loops truncating concurrently with
  * DIFFERENT reliableDirs serialize — each `df.checkpoint` that follows
  * still races the other loop's re-set (the context holds ONE global dir),
  * which is inherent to SparkContext's API, but the cache itself can no
  * longer desync from what this helper last set. Callers that invoke
  * `sc.setCheckpointDir` DIRECTLY invalidate the cache (this helper cannot
  * observe the call — see the UUID note above): don't mix direct sets with
  * this helper on the same context, or the next truncate may land
  * checkpoints in the foreign dir. Running two reliable-dir loops on one
  * context simultaneously is likewise caller error — same global knob. */
object Checkpointing {

  // last dir THIS helper set, per context (a stopped context's entry is
  // dead weight measured in one map entry — not worth a lifecycle hook)
  private val lastSet =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, String]()

  def truncate(df: DataFrame, eager: Boolean,
      reliableDir: Option[String]): DataFrame = reliableDir match {
    case None => df.localCheckpoint(eager)
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      // atomic per-context check-and-set: compute holds the bin lock, so a
      // concurrent truncate with another dir cannot interleave between the
      // read and the setCheckpointDir+cache write
      lastSet.compute(sc, (_, prev) => {
        if (prev != dir) sc.setCheckpointDir(dir)
        dir
      })
      df.checkpoint(eager)
  }

  /** What a [[loop]] does when its round cap arrives before its stop test
    * fires: return the last round (the cap is part of the operator's
    * meaning: a fixed round count, a truncated horizon) or refuse. */
  sealed trait AtCap
  object AtCap {
    case object Return extends AtCap
    final case class Refuse(error: () => Exception) extends AtCap
  }

  /** One truncated frame of a [[loop]]: `index` 0 is the initial frame,
    * `probe` the row the loop's probe columns aggregate over it, and
    * `levels` every frame so far when the loop keeps levels (else just
    * this one). */
  final case class Round(frame: DataFrame, probe: Row, index: Int,
      levels: IndexedSeq[DataFrame])

  /** The one round loop of the iterative operators. Truncates `init` and
    * then `step` of each round in `reliableDir`'s mode, until `stop`
    * (previous probe row, this probe row) fires or `maxRounds` rounds
    * have run, and returns `result` of the last round, eagerly truncated
    * when `truncateResult`.
    *
    * Cost per frame, `probe` folded into the truncation:
    *  - localCheckpoint: the checkpoint is marked lazily and the probe
    *    aggregation is the action that fills it (an aggregate computes
    *    every partition). Without probe columns the truncation is eager.
    *    Either way the round costs no job beyond those of its own plan
    *    (under AQE each of its broadcast and shuffle stages is one).
    *  - reliable: the checkpoint write is a job of its own and the probe
    *    a further job that scans the written files.
    *  Results are identical in both modes.
    *
    * Frames: a round's predecessor is released as soon as the round is
    * materialized, unless `keepLevels` (the BFS-style loops whose result
    * is the union of every level). On return, every frame the result does
    * not read is released; on any throw, the cap's refusal included,
    * every frame is. Only localCheckpoint frames hold blocks; reliable
    * checkpoint files stay in `reliableDir` for the caller to clean. */
  def loop(init: DataFrame, reliableDir: Option[String], maxRounds: Int,
      atCap: AtCap, probe: Seq[Column] = Nil, keepLevels: Boolean = false,
      truncateResult: Boolean = false)(
      step: Round => DataFrame,
      stop: (Row, Row) => Boolean = (_, _) => false,
      result: Round => DataFrame = _.frame): DataFrame = {
    val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def round(df: DataFrame, index: Int): Round = {
      val frame =
        if (probe.nonEmpty && reliableDir.isEmpty) df.localCheckpoint(false)
        else truncate(df, eager = true, reliableDir)
      live += frame
      val row =
        if (probe.isEmpty) Row.empty
        else frame.agg(probe.head, probe.tail: _*).collect()(0)
      Round(frame, row, index, if (keepLevels) live.toVector else Vector(frame))
    }
    try {
      var r = round(init, 0)
      var stopped = false
      while (!stopped && r.index < maxRounds) {
        val prev = r
        r = round(step(prev), prev.index + 1)
        stopped = stop(prev.probe, r.probe)
        if (!keepLevels) { release(prev.frame); live -= prev.frame }
      }
      atCap match {
        case AtCap.Refuse(error) if !stopped => throw error()
        case _ =>
      }
      val out =
        if (truncateResult) truncate(result(r), eager = true, reliableDir)
        else result(r)
      val read = rdds(out).map(_.id).toSet
      live.filterNot(f => rdds(f).exists(rdd => read(rdd.id))).foreach(release)
      out
    } catch {
      case t: Throwable => live.foreach(release); throw t
    }
  }

  private def rdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  private def release(frame: DataFrame): Unit =
    rdds(frame).foreach(_.unpersist(blocking = false))
}
