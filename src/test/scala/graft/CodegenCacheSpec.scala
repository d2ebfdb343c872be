package graft

import java.nio.file.Files

import org.apache.spark.graftspec.CodegenCache
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, TextAnalysis}

/** The generated-class cache must hold a curation chain's working set:
  * with Spark's default 100 entries each repeat of a multi-stage chain
  * recompiled nearly every class (see `GraftSession.CodegenCacheEntries`). */
class CodegenCacheSpec extends SparkSpec {

  test("a repeated curation chain is not recompiled") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select("doc_id", "text", "lang")
    val bench = docs.filter(pmod(col("doc_id"), lit(50L)) === 0).select("text")
    val out = Files.createTempDirectory("graft-codegen")

    /** The chain once; every stage writes its output and the next stage
      * reads it back. Returns the classes compiled meanwhile. */
    def chain(run: Int): Long = {
      def stage(name: String)(f: => DataFrame): DataFrame = {
        val dir = out.resolve(s"r$run").resolve(name).toString
        f.write.parquet(dir)
        spark.read.parquet(dir)
      }
      // one compile-time histogram update per compiled class
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val before = compiles
      val s1 = stage("curateCorpus")(
        Curation.curateCorpus(docs, "doc_id", "text", bench, "text")._1)
      val s2 = stage("dedupLinesKeepFirst")(Dedup.dedupLinesKeepFirst(s1, "doc_id", "text"))
      val s3 = stage("dedupSpansKeepFirst")(
        Dedup.dedupSpansKeepFirst(s2, "doc_id", "text", spanTokens = 10))
      val pairs = stage("minhashPairs")(
        Dedup.minhashPairs(s3, "doc_id", "text", threshold = 0.5))
      val kept = stage("keepBestInClusters")(
        Dedup.keepBestInClusters(s3, "doc_id", pairs, length(col("text"))))
      stage("ccnetBuckets")(TextAnalysis.ccnetBuckets(
        kept.filter(pmod(col("doc_id"), lit(10L)) === 0), kept, "doc_id",
        groupCol = Some("lang"))).collect()
      compiles - before
    }

    // another suite in this JVM may already have compiled some of the
    // chain's classes; start cold so the first count is the working set
    CodegenCache.clear()
    val first = chain(1)
    val second = chain(2)
    info(s"compiled: first run $first, second run $second")
    assert(first > 100, s"the chain's working set ($first classes) no longer exceeds " +
      "Spark's default cache, so this spec no longer tells the two apart")
    // AQE may number a re-planned stage differently, and the stage id is
    // part of the generated class: allow a few new classes, not a pass
    assert(second <= first / 10, s"second run compiled $second of $first classes")
  }
}
