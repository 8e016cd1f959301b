package graft.tools

import graft.{SparkEntry, SparkSpec}

/** Pins the two rules every timed tool shares: a timed run releases what
  * its query left persisted, and the job counter sees only the jobs and
  * stages of its own call. */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The run's outcome and the RDDs it left persisted. Only new ids count:
    * the ContextCleaner may release older ones. */
  private def runLeaving(name: String, fn: Harness.Query) = {
    val before = persisted
    val res = Harness.run(spark, sf, name, fn)
    (res, (persisted -- before).size)
  }

  test("a timed run releases what its query left persisted, failed or not") {
    val q208 = SparkEntry.queries("q208_quality_classifier")
    // A plan an earlier call left cached would make q208's persist a
    // no-op, so clear the CacheManager first. Called bare, the query then
    // leaves its feature frame pinned.
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val before = persisted
    q208(spark, sf).write.format("noop").mode("overwrite").save()
    assert((persisted -- before).nonEmpty)
    cache.clearCache()

    val (ok, okLeft) = runLeaving("q208_quality_classifier", q208)
    assert(ok.isRight && okLeft == 0, s"$ok left $okLeft")
    val (failed, failedLeft) = runLeaving("throws", (s, _) => {
      s.range(100).localCheckpoint()
      throw new IllegalStateException("boom after persist")
    })
    assert(failed == Left("boom after persist") && failedLeft == 0,
      s"$failed left $failedLeft")
  }

  test("the job counter counts only the jobs and stages of its own call") {
    val sc = spark.sparkContext
    val counter = new Harness.JobCounter(spark)
    try {
      sc.parallelize(1 to 10, 2).count() // outside any count
      val (n, c) = counter.count(sc.parallelize(1 to 10, 3).map(_ * 2).count())
      assert(n == 10 && c.jobs == 1 && c.stages.map(_.numTasks) == Seq(3))
      assert(counter.count(())._2 == Harness.Count(0, Nil))
    } finally counter.close()
  }
}
