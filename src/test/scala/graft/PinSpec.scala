package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.llm.{Pin, Similarity}

/** Pin placement: the size-gated policy, decided from plan statistics
  * alone, and the unconditional determinism pin in `ivfAssign`. */
class PinSpec extends SparkSpec {

  private def pinned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  test("reuse pins below the threshold, offload at or above it, no job run") {
    // spark.range(n) estimates 8·n bytes: 8 KB, and exactly the threshold
    val small = spark.range(1000L).toDF()
    val large = spark.range(Pin.ThresholdBytes / 8).toDF()
    assert(large.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(Pin.ThresholdBytes), "range estimate is no longer 8 bytes a row")
    val sc = spark.sparkContext
    sc.setJobGroup("pin-spec", "pin decisions")
    try {
      assert(pinned(Pin.reuse(small)), "reuse left a small frame unpinned")
      assert(!pinned(Pin.reuse(large)), "reuse pinned a large frame")
      assert(!pinned(Pin.offload(small)), "offload pinned a small frame")
      assert(pinned(Pin.offload(large)), "offload left a large frame unpinned")
      assert(sc.statusTracker.getJobIdsForGroup("pin-spec").isEmpty,
        "a pin decision ran a job")
    } finally sc.clearJobGroup()
  }

  test("ivfAssign pins a sampled corpus, leaves a deterministic one alone") {
    import spark.implicits._
    val corpus = (0L until 40L).map(i => (i, Array(i.toFloat, (i % 5).toFloat)))
      .toDF("id", "v")
    val centroids = Seq((0L, Array(0f, 0f)), (1L, Array(30f, 4f)))
      .toDF("centroid_id", "c_vec")
    assert(pinned(Similarity.ivfAssign(
      corpus.sample(0.5, 7L), "id", "v", centroids)), "sampled corpus unpinned")
    assert(!pinned(Similarity.ivfAssign(corpus, "id", "v", centroids)),
      "deterministic corpus pinned")
  }
}
