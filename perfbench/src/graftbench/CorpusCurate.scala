package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llm._

/**
 * corpus_curate: batch passes of one fixed curation chain over a seeded
 * corpus (as many documents as sf0.1) with planted exact duplicates,
 * near-duplicates (token edits), shared boilerplate lines and spans, and
 * benchmark-contaminated documents. One pass is one op. Each stage's
 * output is written to parquet and read back by the next, so every stage
 * is also timed on its own. No catalog I/O.
 */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val g = new Gen(spark, ctx.seed)
  private val stagesDir = ctx.work.resolve("stages")

  val docs = 5000L
  val planted = 400L // the last 400 ids: exact dup, near dup, contaminated (3:3:2)
  val originals: Long = docs - planted
  val vocab = 5000
  val boilerplateRate = 0.2
  val spanRate = 0.1
  val benchPassages = 50

  val stages: Seq[String] = Seq("curateCorpus", "dedupLinesKeepFirst", "dedupSpansKeepFirst",
    "minhashPairs", "keepBestInClusters", "ccnetBuckets", "bm25Search", "unigramLogProb",
    "lrFit", "dsirSelect", "packTokenSequences", "shardForTraining")

  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var kinds: DataFrame = _ // (doc_id, kind, grp) of planted groups
  private var reference: Option[String] = None
  private var passes = 0
  private var recall = Double.NaN
  private val stageS = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

  def primary(cls: String): Boolean = cls == "pass"

  /** A line of words ending in a full stop. */
  private def sentence(words: Column): Column = concat(array_join(words, " "), lit("."))

  private def line(key: Column, salt: Int, n: Int, prefix: String = "w"): Column =
    sentence(g.wordsFor(prefix, vocab, salt, key, lit(n)))

  def setup(): Unit = {
    val lines = transform(sequence(lit(1), (g.mod(60, 6L, col("src")) + 2).cast("int")),
      l => g.wordsFor("w", vocab, 61, col("src") * 64 + l, (g.mod(62, 8L, col("src"), l) + 8).cast("int")))
    val boiler = (0 until 8).map(i => line(lit(i), 63, 10))
    val span = line(lit(0), 64, 12)
    // passages draw their content words from a vocabulary of their own, so
    // only the planted copies share 5-grams with them
    val passage = (0 until benchPassages).map(i => line(lit(i), 65, 20, prefix = "p"))
    val ids = spark.range(0L, docs, 1L, 8).select(col("id").as("doc_id"),
      when(col("doc_id") < originals, lit("orig"))
        .otherwise(element_at(lit(Array("exact", "exact", "exact", "near", "near", "near",
          "contam", "contam")), (pmod(col("doc_id") - originals, lit(8L)) + 1).cast("int")))
        .as("kind"))
      .withColumn("src", when(col("kind").isin("exact", "near"),
        g.mod(66, originals, col("doc_id"))).otherwise(col("doc_id")))
    val edited = transform(lines, (ln, li) => transform(ln, (w, wi) =>
      when(col("kind") === "near" && g.mod(67, 30L, col("doc_id"), li, wi) === 0,
        g.word("w", vocab, 68, col("doc_id"), li, wi)).otherwise(w)))
    val body = array_join(transform(edited, sentence(_)), "\n")
    // boilerplate and spans attach to the SOURCE, so exact copies stay exact
    val withBoiler = when(g.unif(69, col("src")) < boilerplateRate,
      concat(element_at(array(boiler: _*), (g.mod(70, 8L, col("src")) + 1).cast("int")),
        lit("\n"), body)).otherwise(body)
    val withSpan = when(g.unif(71, col("src")) < spanRate,
      concat(span, lit(" "), withBoiler)).otherwise(withBoiler)
    val text = when(col("kind") === "contam", concat(withSpan, lit("\n"),
      element_at(array(passage: _*), (g.mod(72, benchPassages.toLong, col("doc_id")) + 1).cast("int"))))
      .otherwise(withSpan)
    val src = ctx.work.resolve("src")
    ids.select(col("doc_id"), text.as("text"),
        element_at(lit(Array("en", "de", "fr", "zh")), (g.mod(73, 4L, col("src")) + 1).cast("int")).as("lang"),
        col("kind"), col("src"))
      .write.parquet(src.resolve("corpus").toString)
    Main.note("corpus written")
    val all = spark.read.parquet(src.resolve("corpus").toString)
    corpus = all.select("doc_id", "text", "lang")
    // a local relation, not a cached frame: the benchmark pins nothing itself
    val plantedDocs = all.filter(col("kind").isin("exact", "near"))
    val groups = plantedDocs.select(col("doc_id"), col("kind"), col("src").as("grp"))
      .unionByName(plantedDocs.select(col("src").as("doc_id"), col("kind"), col("src").as("grp")))
      .distinct()
    kinds = spark.createDataFrame(groups.collectAsList(), groups.schema)
    spark.range(0L, benchPassages.toLong, 1L, 1)
      .select(array(passage: _*).getItem(col("id").cast("int")).as("text"))
      .write.parquet(src.resolve("bench").toString)
    bench = spark.read.parquet(src.resolve("bench").toString)

    // warm-up: one full pass runs every stage once; its output fingerprint
    // is the reference every timed pass must reproduce
    val warm = new Ops(60000.0)
    warm.run("pass")(pass())(check)
    if (warm.failed > 0) throw new IllegalStateException(warm.failures.mkString("; "))
  }

  def reset(): Unit = stageS.clear()

  /** One stage call plus writing its output; the next stage reads that
    * output back, so each stage is timed on its own (inside its span, so a
    * traced run's boundary waits are not in it). */
  private def stage(name: String, pass: Int)(f: => DataFrame): DataFrame = {
    val dir = stagesDir.resolve(s"p$pass").resolve(name).toString
    Trace.span(s"llm.$name") {
      val t0 = System.nanoTime()
      f.write.parquet(dir)
      stageS.getOrElseUpdate(name, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }
    spark.read.parquet(dir)
  }

  /** One pass of the chain. */
  private def pass(): Out = {
    val p = passes
    passes += 1
    val s1 = stage("curateCorpus", p)(Curation.curateCorpus(corpus, "doc_id", "text",
      bench, "text")._1)
    val s2 = stage("dedupLinesKeepFirst", p)(Dedup.dedupLinesKeepFirst(s1, "doc_id", "text"))
    val s3 = stage("dedupSpansKeepFirst", p)(Dedup.dedupSpansKeepFirst(s2, "doc_id", "text",
      spanTokens = 10))
    val pairs = stage("minhashPairs", p)(Dedup.minhashPairs(s3, "doc_id", "text",
      threshold = 0.5))
    val kept = stage("keepBestInClusters", p)(Dedup.keepBestInClusters(s3, "doc_id", pairs,
      length(col("text"))))
    val buckets = stage("ccnetBuckets", p)(TextAnalysis.ccnetBuckets(
      kept.filter(pmod(col("doc_id"), lit(10L)) === 0), kept, "doc_id", groupCol = Some("lang")))
    val terms = Seq(1, 3, 7).map(i => "w" + Integer.toString(i, 36))
    stage("bm25Search", p)(TextAnalysis.bm25Search(kept, "doc_id", "text", terms, 100))
    stage("unigramLogProb", p)(TextAnalysis.unigramLogProb(kept, "doc_id"))
    val dim = 32
    val scored = stage("lrFit", p) {
      val labeled = kept.join(buckets.select(col("doc_id"),
          (col("bucket") === "head").cast("double").as("y")), "doc_id")
        .select(col("doc_id"), TextAnalysis.hashEmbedding(col("text"), dim).as("x"), col("y"))
      val m = Classifier.lrFitNewton(labeled, "y", "x", dim, iters = 6)
      labeled.select(col("doc_id"), Classifier.lrScore(col("x"), m).as("score"))
    }
    val target = kept.join(scored.filter(col("score") >= 0.5).select("doc_id"), "doc_id")
    val selected = stage("dsirSelect", p)(Selection.dsirSelect(kept, target, "doc_id",
      k = docs / 2))
    val packed = stage("packTokenSequences", p)(Curation.packTokenSequences(
      kept.join(selected.select("doc_id"), "doc_id").select(col("doc_id"),
        transform(split(col("text"), "[ \n]"), w => xxhash64(w)).as("ids")),
      "doc_id", "ids", seqLen = 512, eosId = -1L))
    val shards = stage("shardForTraining", p)(Curation.shardForTraining(packed, "seq_id",
      numShards = 16, seed = "graftbench"))

    Out(p, Seq(s1, s2, s3, pairs, kept, buckets, selected, packed), s1, kept, shards)
  }

  private final case class Out(pass: Int, counted: Seq[DataFrame], curated: DataFrame,
                               kept: DataFrame, shards: DataFrame)

  private def survivors(df: DataFrame): DataFrame =
    kinds.join(df.select("doc_id"), "doc_id").groupBy("kind", "grp").agg(count(lit(1)).as("n"))

  /** Outside the timed region: exactly one document of each planted
    * exact-duplicate group leaves `curateCorpus` (a gate that drops the
    * whole group fails too), and the output fingerprint (stage row counts
    * plus a hash of the shards) matches the first pass. */
  private def check(o: Out): Option[String] = Trace.span("check.pass") {
    val exactGroups = kinds.filter(col("kind") === "exact").select("grp").distinct().count()
    val exactOne = survivors(o.curated).filter(col("kind") === "exact" && col("n") === 1).count()
    val surviving = survivors(o.kept)
    val nearGroups = kinds.filter(col("kind") === "near").select("grp").distinct().count()
    val nearLeft = surviving.filter(col("kind") === "near" && col("n") > 1).count()
    recall = 1.0 - nearLeft.toDouble / math.max(1L, nearGroups)
    val fp = (o.counted.map(_.count()) :+ o.shards.agg(sum(xxhash64(col("seq_id"),
      col("token_ids"), col("shard"), col("pos")).bitwiseAND(0xFFFFFFFFL))).head().get(0)).mkString(",")
    graft.api.Table.deleteRecursively(stagesDir.resolve(s"p${o.pass}"))
    if (exactOne != exactGroups)
      Some(s"${exactGroups - exactOne} of $exactGroups planted exact-duplicate groups do not keep exactly one document")
    else if (reference.exists(_ != fp)) Some(s"fingerprint $fp differs from the first pass ${reference.get}")
    else { reference = Some(fp); None }
  }

  /** Whole passes only: at least one, and another only when the last one
    * succeeded and the next should end before the deadline. */
  def loop(ops: Ops, deadlineNs: Long): Unit = {
    var last = 0L
    var ok = true
    do {
      val t0 = System.nanoTime()
      ok = ops.run("pass")(pass())(check).isDefined
      last = System.nanoTime() - t0
    } while (ok && System.nanoTime() + last < deadlineNs)
  }

  /** Input documents ÷ the median pass time. */
  def work(ops: Ops): Double = docs / (ops.p50(primary) / 1000.0)

  def layers(probe: Probe): Map[String, Double] =
    stages.map(s => s"llm.$s.s" -> stageS.get(s).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0))
      .toMap + ("llm.planted_dup_recall" -> recall)
}
