package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The streaming-lifecycle queries' file-stream replay: micro-batches
  * staged as files in a landing dir, then drained through `foreachBatch`.
  * Scratch dirs come from [[graft.core.Scratch.workDir]]. */
private[queries] object Staging {

  /** Staged batch files, drained by [[drain]] as often as a caller
    * restarts its sink (each drain from a fresh checkpoint replays batch
    * ids 0..n−1). */
  final class FileStream private[Staging] (s: SparkSession, dir: String,
      schema: StructType) {

    /** Runs one stream over the staged files, one file per micro-batch,
      * through `onBatch` until all are processed, then stops it. `shape`
      * turns the source into what `onBatch` receives (a windowed
      * aggregation, say). With no `checkpoint` Spark uses a temporary one.
      *
      * Runs at 8 shuffle partitions: at fixture scale each partition's
      * fixed cost (a streaming aggregation's state-store I/O, a batch
      * job's tasks) dominates. The override spans start to stop, because
      * `onBatch`'s jobs read the setting when they execute, and it is
      * restored whatever happens. Results do not depend on it. */
    def drain(onBatch: (DataFrame, Long) => Unit,
        checkpoint: Option[String] = None,
        shape: DataFrame => DataFrame = identity): Unit = {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val w = shape(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)).writeStream
        val query = checkpoint.fold(w)(w.option("checkpointLocation", _))
          .foreachBatch(onBatch).start()
        try query.processAllAvailable() finally query.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  /** Stages `batches` under `work/in` as one parquet file each, read back
    * under the first batch's schema. FileStreamSource takes files oldest
    * first, so the mtimes are the arrival order: batch i of n is stamped
    * (n − i) minutes in the past. A stamp that fails is an error, not an
    * undefined order. */
  def fileStream(work: Path, batches: DataFrame*): FileStream = {
    val inDir = Files.createDirectories(work.resolve("in"))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = work.resolve(s"stage_b${i + 1}")
      df.coalesce(1).write.parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      val dst = Files.copy(part, inDir.resolve(s"b${i + 1}.parquet"))
      require(dst.toFile.setLastModified(now - (batches.size - i) * 60000L),
        s"setLastModified failed for $dst: micro-batch arrival order " +
          "would be undefined")
    }
    new FileStream(batches.head.sparkSession, inDir.toString,
      batches.head.schema)
  }
}
