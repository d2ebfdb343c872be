package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line out.
 *
 * The selective-scan set mirrors the reference bench workload
 * (vastdb/bench/test_perf.py:41-59: point equality, timestamp BETWEEN,
 * conjunction, same-column disjunction, IN-list) re-targeted at the `events`
 * table, plus the relational/LLM headliners. Scan queries materialize rows
 * through the noop sink (count() alone would let Spark prune all columns and
 * under-report scan cost); a warmup pass absorbs JVM/codegen startup so the
 * per-query numbers measure the plans, not first-run compilation.
 */
object Bench {

  /** When SPARK_GRAFT_BENCH_EXPLAIN names a directory, every materialized
    * frame's `explain("formatted")` is ALSO dumped there as
    * `<query>[_k].txt` — the plan-evidence capture for optimization rounds
    * (guide §1: record plan shape next to the numbers). Off by default and
    * meant for a separate capture run: stringifying plans inside the timed
    * region would pollute the measurement. */
  private val explainDir = sys.env.get("SPARK_GRAFT_BENCH_EXPLAIN")
  @volatile private var currentQuery: Option[String] = None
  private val matSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def mat(df: DataFrame): Unit = {
    for (dir <- explainDir; q <- currentQuery) {
      val k = matSeq.incrementAndGet()
      val suffix = if (k == 1) "" else s"_$k"
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$q$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    df.write.format("noop").mode("overwrite").save()
  }

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(38, 6))).cast("double")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)

    // contention guard: sub-second queries swing 20-40% when another JVM or
    // heavy process shares the box (measured: agg_q1 0.79→1.31 s with zero
    // code change), so record the machine state at start INTO the output —
    // a reader comparing rounds can then discard contended runs instead of
    // chasing phantom regressions. Ancestor JVMs (sbt launching this main)
    // are excluded; any other live java process is a red flag.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val selfPid = ProcessHandle.current().pid()
    val ancestors = {
      var s = Set.empty[Long]
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { s += p.get.pid; p = p.get.parent() }
      s
    }
    val otherJvms = {
      import scala.jdk.CollectionConverters._
      ProcessHandle.allProcesses().iterator().asScala.count { p =>
        p.pid != selfPid && !ancestors.contains(p.pid) &&
          p.info().command().map[Boolean](_.endsWith("java")).orElse(false)
      }
    }
    val contended = loadAvg > cpus.toInt / 2.0 || otherJvms > 0
    if (contended) System.err.println(
      f"[bench] WARNING: contended machine at start (load_avg=$loadAvg%.2f, " +
        s"other_jvms=$otherJvms) — numbers will not be comparable across rounds")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame =
      if (name == "events") {
        // ts arrives as int64 nanos (legacy data) or naive-µs timestamp
        // (NTZ); normalize both to µs TimestampType under the UTC session
        val raw = spark.read.parquet(s"$sfDir/$name.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
        }
      } else spark.read.parquet(s"$sfDir/$name.parquet")

    // PQ index build (one-time, untimed — the ann_pq entry measures the
    // per-query cost over the built artifacts, the same split the sorted /
    // z-order layout pairs use for their one-time rewrite)
    val pqCodebookDir = "/tmp/graft_bench_pq_codebook"
    val pqCodesDir = "/tmp/graft_bench_pq_codes"
    locally {
      val e = t("embeddings").select("vec_id", "embedding")
      val cb = graft.llm.Quantization.pqTrain(e, "vec_id", "embedding",
        dim = 64, m = 16, k = 16, iters = 1)
      cb.write.mode("overwrite").parquet(pqCodebookDir)
      graft.llm.Quantization.pqEncode(e, "vec_id", "embedding",
          spark.read.parquet(pqCodebookDir), dim = 64, m = 16)
        .write.mode("overwrite").parquet(pqCodesDir)
    }

    val queries: Seq[(String, () => Unit)] = Seq(
      // --- reference-shaped selective scans on events ---
      "scan_point" -> (() => mat(t("events").filter(col("user_id") === 42L))),
      "scan_ts_between" -> (() => mat(t("events").filter(
        col("ts").between(lit("2024-01-05").cast("timestamp"),
          lit("2024-01-06").cast("timestamp"))))),
      "scan_conj" -> (() => mat(t("events").filter(
        col("event_type") === "purchase" && col("value") > 90.0))),
      "scan_disj" -> (() => mat(t("events").filter(
        col("value").between(10.0, 11.0) || col("value").between(80.0, 81.0)))),
      "scan_isin" -> (() => mat(t("events").filter(
        col("event_type").isin("signup", "error")))),
      // --- relational headliners ---
      "agg_q1" -> (() => mat(t("lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
          count(lit(1)).as("n")))),
      "join_li_orders" -> (() => mat(t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(dsum(col("l_extendedprice")).as("s"), count(lit(1)).as("n")))),
      "window_topn" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        mat(t("orders").withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3))
      }),
      "sort_global" -> (() => mat(t("lineitem")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber"))),
      // --- vector + LLM headliners ---
      "vector_topk" -> (() => {
        val e = t("embeddings")
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        mat(e.crossJoin(broadcast(q))
          .withColumn("d", graft.functions.Distances.l2sq(col("embedding"), col("qvec")))
          .orderBy("d").limit(20))
      }),
      "tpch_q3" -> (() => mat(t("customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(t("orders"), col("c_custkey") === col("o_custkey"))
        .join(t("lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc).limit(10))),
      "asof_join" -> (() => {
        val ev = t("events")
        val p = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max(col("event_id")).as("v_id"))
        mat(graft.ops.Relational.asOfJoin(p, v, "user_id", "ts", "ts", Seq("v_id")))
      }),
      "dedup_minhash" -> (() => mat(graft.llm.Dedup.minhashPairs(
        t("documents"), "doc_id", "text", k = 64, bands = 16, threshold = 0.5))),
      // full dedup pipeline: LSH pairs -> transitive clusters (large-star/
      // small-star rounds); measures the iterative shuffle cost end-to-end
      "dedup_clusters" -> (() => mat(graft.llm.Dedup.connectedComponents(
        graft.llm.Dedup.minhashPairs(t("documents"), "doc_id", "text",
          k = 64, bands = 16, threshold = 0.5)))),
      "text_analyze" -> (() => mat(graft.llm.TextAnalysis.analyze(t("documents")))),
      // PQ ADC search over a prebuilt codebook + code table (setup below,
      // like the sorted/z-order layouts: the index builds once, queries pay
      // only the codes-only ADC scan + bounded exact rerank)
      "ann_pq" -> (() => {
        val e = t("embeddings").select("vec_id", "embedding")
        val q = e.filter(col("vec_id") < 8)
        val cb = spark.read.parquet(pqCodebookDir)
        val enc = spark.read.parquet(pqCodesDir)
        mat(graft.llm.Quantization.pqSearch(enc, e, q, cb,
          "vec_id", "embedding", dim = 64, m = 16, k = 10, shortlist = 50))
      }),
      "fts_bm25" -> (() => mat(graft.llm.TextAnalysis.bm25Search(
        t("documents"), "doc_id", "text",
        terms = Seq("vector", "query", "stream"), k = 20))),
      "text_logprob" -> (() => mat(graft.llm.TextAnalysis.unigramLogProb(
        t("documents"), "doc_id"))),
      // the one-call curation pipeline end-to-end (normalize -> quality ->
      // exact dedup -> minhash near-dedup -> decontaminate) incl. its
      // internal per-stage accounting actions
      "curate_pipeline" -> (() => {
        val docs = t("documents").select("doc_id", "text")
        val bench = docs.filter(col("doc_id") < 50).select("text")
        val (clean, _) = graft.llm.Curation.curateCorpus(
          docs, "doc_id", "text", bench, "text")
        mat(clean)
      }),
      "events_window" -> (() => mat(graft.streaming.Events.tumblingStats(
        t("events"), "1 hour"))),
      // training-shard export over the biggest table: the deterministic
      // global-rank shuffle is the whole cost (the floor is a global sort)
      "shard_export" -> (() => {
        val li = t("lineitem").select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("row_id"))
        mat(graft.llm.Curation.shardForTraining(li, "row_id",
          numShards = 64, seed = "bench"))
      }),
      // distributed Newton fit + corpus-wide scoring: 6 statistics passes
      // (gradient + Hessian, decimal-staged) and one map-side score pass
      "classifier_fit" -> (() => {
        val dim = 32
        val u = Array.tabulate(dim)(i => (((i + 1) * 37) % 19 - 9).toDouble)
        val docs = t("documents").select(col("doc_id"),
          graft.llm.TextAnalysis.hashEmbedding(col("text"), dim).as("x"))
          .withColumn("y",
            (aggregate(zip_with(col("x").cast("array<double>"), lit(u),
              (a, b) => a * b), lit(0.0d), (acc, v) => acc + v) > 0)
              .cast("double"))
        val m = graft.llm.Classifier.lrFitNewton(docs, "y", "x", dim,
          iters = 6, l2 = 1e-4)
        mat(docs.select(col("doc_id"),
          graft.llm.Classifier.lrScore(col("x"), m).as("score")))
      }),
      // concat-and-chunk sequence packing: two-phase prefix sum + explode
      // + bounded regroup — the curated-text → training-tensors last mile
      "token_pack" -> (() => mat(graft.llm.Curation.packTokenSequences(
        t("documents").select(col("doc_id"),
          transform(split(col("text"), " "), w => xxhash64(w)).as("ids")),
        "doc_id", "ids", seqLen = 512, eosId = -1L))),
      // corpus-wide keep-first line dedup: explode → winner agg → join →
      // reassemble, all hash-keyed shuffles
      "line_dedup" -> (() => mat(graft.llm.Dedup.dedupLinesKeepFirst(
        t("documents").select(col("doc_id"),
          concat_ws("\n", lit("SHARED BOILERPLATE HEADER LINE"), col("text"),
            lit("SHARED BOILERPLATE FOOTER LINE")).as("text")),
        "doc_id", "text", minChars = 5))),
      // DSIR selection, default regime: gram explode + two ≤4096-row
      // broadcast count tables + id-keyed weight sum + heap top-k
      // (k=500 is under the engine threshold → TakeOrderedAndProject)
      "dsir_select" -> (() => mat(graft.llm.Selection.dsirSelect(
        t("documents"), t("documents").filter(col("doc_id") % 10 === 0),
        "doc_id", k = 500))),
      // same selection FORCED through the large-k rankBySort regime
      // (range shuffle + bucketed two-phase rank) so a regression in the
      // path LIMITS.md reasons about for unbounded k stays visible
      "dsir_select_rank" -> (() => {
        val key = "spark.sql.execution.topKSortFallbackThreshold"
        val old = spark.conf.get(key, "10000")
        spark.conf.set(key, "1")
        try mat(graft.llm.Selection.dsirSelect(
          t("documents"), t("documents").filter(col("doc_id") % 10 === 0),
          "doc_id", k = 500))
        finally spark.conf.set(key, old)
      }),
      // exact-substring span removal end-to-end: window-hash shuffle +
      // keep-first winner aggregate + covered-position anti-join + per-doc
      // reassembly — a planted shared header makes the cut path real
      "span_dedup" -> (() => mat(graft.llm.Dedup.dedupSpansKeepFirst(
        t("documents").select(col("doc_id"),
          concat_ws(" ", lit("shared license header sentence that applies " +
            "to every document"), col("text")).as("text")),
        "doc_id", "text", spanTokens = 8, stride = 1))),
      // CCNet perplexity bucketing: broadcast bigram-LM scoring + the
      // range-partitioned two-phase per-language rank
      "ccnet_bucket" -> (() => mat(graft.llm.TextAnalysis.ccnetBuckets(
        t("documents").filter(col("doc_id") % 10 === 0), t("documents"),
        "doc_id", groupCol = Some("lang")))),
      // published rule filters, pure map-side: Gopher checklist flags +
      // C4 line rules over synthesized page structure — measures the
      // per-document string/regex/HOF cost that every corpus pays once
      "rule_filters" -> (() => mat(graft.llm.Curation.c4Filter(
        graft.llm.TextAnalysis.gopherFilter(
          t("documents").select(col("doc_id"),
            concat_ws("\n", col("text"), lit("tail sentence line here."),
              lit("second tail line stays too!")).as("text"))),
        minLines = 1))),
      // stratified per-domain draw: narrow-frame race + WindowGroupLimit
      // map-side k-heaps + id join-back — the per-source eyeball export
      "sample_per_domain" -> (() => mat(graft.llm.Selection.samplePerDomain(
        t("documents"), "doc_id", "source", k = 100, seed = 7L))),
      // byte-level BPE dense-id encode over the corpus: regex pre-tokens +
      // byte alphabet + merge-by-rank, one codegen'd map-side pass (the
      // tokenize_pack(byte_level) hot path without the packing shuffle)
      "bpe_encode_bytes" -> {
        lazy val merges = graft.llm.Bpe.trainByteLevel(
          t("documents"), "text", numMerges = 200, sampleDocs = 300)
        () => mat(t("documents").select(col("doc_id"),
          size(graft.llm.Bpe.encodeByteLevelIds(col("text"), merges))
            .as("n")))
      },
      // regex blocklist gate: 200 patterns combined into ONE map-side
      // alternation (the published-blocklist scale) + a few that actually
      // match — measures how rlike alternation cost scales with the
      // pattern-list size every corpus pays per row
      "regex_filter" -> (() => {
        val pats = (0 until 200).map(i =>
          s"(?i)forbidden${i}phrase\\s+x$i") ++
          Seq("vector", "quer(y|ies)", "\\bstream\\b")
        mat(graft.llm.Curation.regexBlocklistFilter(
          t("documents").select("doc_id", "text"), "text", pats))
      }))

    // ingest-probe shape: batch-vs-corpus near-dup suppression. Corpus
    // signatures are precomputed ONCE here (exactly what the persisted
    // dedup index stores under the manifest); the timed work is what an
    // ingest batch pays — hash the incoming 1% + LSH band-probe the
    // corpus signatures + est-jaccard verify over the candidates. Never
    // corpus×corpus.
    // per-run temp dir: a fixed path would let a concurrent bench JVM
    // clobber the signatures mid-measurement; setup is also skipped when
    // the subset filter excludes the probe entry
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String) = benchOnly.forall(_.exists(name.contains))
    def docSigs(df: DataFrame) = df.select(col("doc_id").as("id"),
      graft.functions.TextHashes.minhashFromTokens(
        split(col("text"), " "), 64, 3).as("sig"))
    val probeScans: Seq[(String, () => Unit)] =
      (if (!selected("dedup_probe")) Seq.empty[(String, () => Unit)]
      else {
        val sigDir = java.nio.file.Files
          .createTempDirectory("graft_bench_dedup_sigs").toString
        docSigs(t("documents")).write.mode("overwrite").parquet(sigDir)
        Seq("dedup_probe" -> (() => mat(graft.llm.Dedup.minhashProbeFromSigs(
          docSigs(t("documents").filter(col("doc_id") % 100 === 0)),
          spark.read.parquet(sigDir), k = 64, bands = 16, threshold = 0.7))))
      }) ++
      // span-probe twin: corpus window hashes precomputed once (what the
      // persisted span index stores); the timed work is the 1% batch's
      // window pass + broadcast probe + covered-token accounting
      // dense-id detokenize over packed shards: the corpus is encoded and
      // packed ONCE here (what tokenize_pack persists); the timed work is
      // the shard-audit hot path — one codegen'd map-side decode pass over
      // the packed id arrays
      (if (!selected("detokenize")) Seq.empty[(String, () => Unit)]
      else {
        val dtkMerges = graft.llm.Bpe.trainByteLevel(
          t("documents"), "text", numMerges = 200, sampleDocs = 300)
        val packDir = java.nio.file.Files
          .createTempDirectory("graft_bench_packed").toString
        graft.llm.Curation.packTokenSequences(
          t("documents").select(col("doc_id"),
            transform(graft.llm.Bpe.encodeByteLevelIds(col("text"),
              dtkMerges), i => i.cast("long")).as("ids")),
          "doc_id", "ids", seqLen = 512, eosId = -1L)
          .write.mode("overwrite").parquet(packDir)
        Seq("detokenize" -> (() => mat(spark.read.parquet(packDir)
          .select(col("seq_id"), graft.llm.Bpe.decodeByteLevelIdsCol(
            col("token_ids"), dtkMerges).as("text")))))
      }) ++
      // changefeed drain: the graft table is committed in 8 versions ONCE
      // here; each timed run drains the full feed from a FRESH checkpoint
      // through an AvailableNow noop sink — version-delta planning + file
      // re-emission end-to-end — plus the per-batch stream_lag metadata
      // probe every incremental consumer calls
      (if (!selected("stream_drain")) Seq.empty[(String, () => Unit)]
      else {
        val sroot = java.nio.file.Files
          .createTempDirectory("graft_bench_stream").toString
        val svs = graft.api.VastSession(spark, sroot)
        svs.createBucket("sb")
        val ev = t("events")
        svs.transaction(tx => tx.bucket("sb").createSchema("m")
          .createTable("ev", ev.schema))
        (0 until 8).foreach { i =>
          svs.transaction(tx => tx.bucket("sb").schema("m").table("ev")
            .insert(ev.filter(pmod(col("event_id"), lit(8)) === i)))
        }
        val tdir = java.nio.file.Paths.get(sroot, "sb", "m", "ev").toString
        Seq("stream_drain" -> (() => {
          val ckpt = java.nio.file.Files
            .createTempDirectory("graft_bench_stream_ck").toString
          val q = spark.readStream.format("graft").load(tdir)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(600000)
          svs.transaction(tx => tx.bucket("sb").schema("m").table("ev")
            .streamLag(-1L))
          ()
        }))
      }) ++
      (if (!selected("span_probe")) Seq.empty[(String, () => Unit)]
      else {
        val winDir = java.nio.file.Files
          .createTempDirectory("graft_bench_span_wins").toString
        t("documents").select(
            posexplode(graft.functions.TextHashes.windowHashPairs(
              split(col("text"), " "), 8, 1)).as(Seq("_widx", "_hp")))
          .select(col("_hp.h1").as("h1"), col("_hp.h2").as("h2"))
          .write.mode("overwrite").parquet(winDir)
        Seq("span_probe" -> (() => mat(graft.llm.Dedup.spanProbeStats(
          t("documents").filter(col("doc_id") % 100 === 0), "doc_id", "text",
          spark.read.parquet(winDir), spanTokens = 8, stride = 1))))
      })

    // sorted-layout comparison (Elysium write path): one range-partitioned
    // sorted copy of lineitem; the same selective range scan then prunes
    // row groups via min/max stats instead of reading everything
    val sortedDir = "/tmp/graft_bench_sorted_lineitem"
    t("lineitem").repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(sortedDir)
    val shipLo = lit("1998-03-01").cast("timestamp")
    val shipHi = lit("1998-03-08").cast("timestamp")
    val sortedScans: Seq[(String, () => Unit)] = Seq(
      "scan_range_unsorted" -> (() => mat(t("lineitem")
        .filter(col("l_shipdate").between(shipLo, shipHi)))),
      "scan_range_sorted" -> (() => mat(spark.read.parquet(sortedDir)
        .filter(col("l_shipdate").between(shipLo, shipHi)))))

    // z-order layout comparison: the same lineitem copy in two graft
    // tables — arrival order vs rewritten on the (l_shipdate,
    // l_extendedprice) curve — probed with the same 2-D box predicate
    // through the API scan, whose manifest zone maps prune whole FILES.
    // The sorted pair above shows what a lead-column sort buys; this pair
    // shows the multi-key layout pruning a sort cannot give.
    val zroot = java.nio.file.Paths.get("/tmp/graft_bench_zorder")
    graft.api.Table.deleteRecursively(zroot)
    val zs = graft.api.VastSession(spark, zroot.toString)
    zs.createBucket("b")
    val liRows = t("lineitem").count()
    zs.transaction { tx =>
      val sch = tx.bucket("b").createSchema("m")
      sch.createTable("plain", t("lineitem").schema).insert(t("lineitem"))
      val zed = sch.createTable("zed", t("lineitem").schema)
      zed.insert(t("lineitem"))
      zed.addClusteringKeys(Seq("l_shipdate", "l_extendedprice"))
      zed.optimizeZorder(math.max(1L, liRows / 24))
      // date dim for the star-join query: one row per distinct ship date,
      // labeled by month — the WHERE d_month = x filter survives as ~31
      // join keys that reach the fact scan as a runtime IN filter.
      // d_date uses the FACT column's exact read type (TIMESTAMP_NTZ in
      // shipped testdata): a TimestampType dim would wrap the fact join
      // key in a cast, and a cast-wrapped DPP subquery filter cannot be
      // pushed into the v2 source (the "Can't translate
      // cast(l_shipdate) IN dynamicpruning" WARN r9 flagged)
      val dates = sch.createTable("dates",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("d_date",
            t("lineitem").schema("l_shipdate").dataType),
          org.apache.spark.sql.types.StructField("d_month",
            org.apache.spark.sql.types.StringType))))
      dates.insert(t("lineitem").select(col("l_shipdate").as("d_date"))
        .distinct().withColumn("d_month", date_format(col("d_date"), "yyyy-MM")))
    }
    val boxPred = col("l_shipdate").between(shipLo, shipHi) &&
      col("l_extendedprice").between(10000.0, 20000.0)
    val boxCols = Seq("l_orderkey", "l_shipdate", "l_extendedprice")
    def zscan(table: String): Unit = zs.transaction { tx =>
      mat(tx.bucket("b").schema("m").table(table).select(boxCols, boxPred))
    }
    val zScans: Seq[(String, () => Unit)] = Seq(
      "scan_2d_plain" -> (() => zscan("plain")),
      "scan_2d_zorder" -> (() => zscan("zed")))

    // SQL catalog read stack: the same 2-D box through the DSv2 zone-map
    // path, and a star join whose dim-side filter reaches the fact scan as
    // a runtime IN filter (DPP) pruning whole fact FILES. Regression
    // coverage for catalog-path statistics + file pruning — round 8's only
    // regression hid exactly here, where the raw-parquet bench can't see.
    spark.conf.set("spark.sql.catalog.gbench",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gbench.root", zroot.toString)
    val sqlScans: Seq[(String, () => Unit)] = Seq(
      "scan_2d_zorder_sql" -> (() => mat(spark.sql(
        """SELECT l_orderkey, l_shipdate, l_extendedprice FROM gbench.b.m.zed
          |WHERE l_shipdate BETWEEN TIMESTAMP '1998-03-01' AND TIMESTAMP '1998-03-08'
          |AND l_extendedprice BETWEEN 10000.0 AND 20000.0""".stripMargin))),
      "star_join_dpp" -> (() => mat(spark.sql(
        """SELECT f.l_orderkey, f.l_extendedprice, d.d_month
          |FROM gbench.b.m.zed f
          |JOIN gbench.b.m.dates d ON f.l_shipdate = d.d_date
          |WHERE d.d_month = '1998-03'""".stripMargin))))

    // materialized rollup pair: the same GROUP BY through the catalog with
    // the rollup router off (full fact scan + hash agg) vs on (scan of a
    // handful of pre-aggregated rows). The at-rest answer to the recurring
    // aggregate — at 100 TB the routed query never touches the fact table.
    zs.transaction { tx =>
      tx.bucket("b").schema("m").table("plain").createAggProjection("r1",
        Seq("l_returnflag", "l_linestatus"),
        Seq("l_extendedprice", "l_quantity"))
    }
    val rollupSql =
      """SELECT l_returnflag, sum(l_extendedprice) AS s, count(*) AS n,
        |       max(l_quantity) AS mx
        |FROM gbench.b.m.plain GROUP BY l_returnflag""".stripMargin
    val rollupScans: Seq[(String, () => Unit)] = Seq(
      "agg_sql_base" -> (() => {
        spark.conf.set("spark.graft.aggProjection.enabled", "false")
        try mat(spark.sql(rollupSql))
        finally spark.conf.unset("spark.graft.aggProjection.enabled")
      }),
      "agg_sql_rollup" -> (() => mat(spark.sql(rollupSql))))

    // storage-partitioned join pair: the same fact-fact join + per-key
    // aggregate over catalog tables hash-bucketed on the join key, with
    // v2 bucketing off (both sides shuffle) vs on (zero exchange — scans
    // report key-grouped partitioning, the join streams co-located files,
    // and the aggregate rides the same partitioning). Broadcast is pinned
    // off in BOTH runs: the pair measures shuffle-vs-SPJ, not
    // shuffle-vs-broadcast — at 100 TB neither join side broadcasts.
    // Bucket count is overridable for scale experiments. 32 (= cores) is
    // right at sf0.1: measured, 128 buckets slows BOTH join paths ~2×
    // (4.7 KB avg files — per-file open cost swamps the work), and the
    // pair's winner at this scale flips run-to-run anyway (min-of-5 gave
    // spj 0.45 vs shuffle 0.72 one run, 0.66 vs 0.52 the next — the two
    // sub-second plans are within environmental noise at 17 MB input).
    // The crossover is pinned by the sf1 checkpoint (BENCH_sf1.json),
    // where the shuffle is big enough to dominate noise.
    val nBuckets = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUCKETS", "32").toInt
    zs.transaction { tx =>
      val sch = tx.bucket("b").schema("m")
      val lib = sch.createTable("li_b", t("lineitem").schema)
      lib.insert(t("lineitem"))
      lib.addBucketLayout(nBuckets, Seq("l_orderkey"))
      lib.optimizeBuckets(math.max(1L, liRows / nBuckets))
      val ordb = sch.createTable("ord_b", t("orders").schema)
      ordb.insert(t("orders"))
      ordb.addBucketLayout(nBuckets, Seq("o_orderkey"))
      ordb.optimizeBuckets(math.max(1L, t("orders").count() / nBuckets))
    }
    def spjJoin(bucketingOn: Boolean): Unit = {
      val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
        bucketingOn.toString)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try mat(spark.sql(
        """SELECT l_orderkey, o_orderdate, count(*) AS n,
          |       sum(l_extendedprice * (1.0 - l_discount)) AS revenue
          |FROM gbench.b.m.li_b JOIN gbench.b.m.ord_b
          |  ON l_orderkey = o_orderkey
          |GROUP BY l_orderkey, o_orderdate""".stripMargin))
      finally {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      }
    }
    val spjScans: Seq[(String, () => Unit)] = Seq(
      "join_fact_shuffle" -> (() => spjJoin(bucketingOn = false)),
      "join_fact_spj" -> (() => spjJoin(bucketingOn = true)))

    // warmup: one tiny end-to-end pass per distinct input compiles codegen,
    // loads footers, and spins executor threads
    mat(t("lineitem").limit(1))
    mat(t("events").limit(1))
    mat(t("documents").limit(1))
    mat(t("embeddings").limit(1))
    mat(t("orders").limit(1))

    // machine-calibration probe: a FIXED workload with ZERO graft code —
    // a deterministic generated frame (same 20M rows every round, every
    // machine) written to parquet once untimed, then scan + filter +
    // hash-agg timed best-of-5. Identical bytes and identical plan each
    // round, so its time moves ONLY with machine state (CPU contention,
    // page cache, thermal). Readers divide query times by `calibration`
    // to separate ambient drift from code regressions — three consecutive
    // rounds of NOTES burned space adjudicating 1.1-1.4× machine drift on
    // untouched queries; this turns that forensics into one division.
    val calDir = java.nio.file.Files
      .createTempDirectory("graft_bench_cal").toString
    spark.range(0L, 20000000L, 1L, 32)
      .select(col("id"), pmod(col("id"), lit(1000L)).as("k"),
        pmod(col("id") * 2654435761L, lit(1000003L)).as("v"))
      .write.mode("overwrite").parquet(calDir)
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      mat(spark.read.parquet(calDir).filter(pmod(col("v"), lit(7L)) === 0L)
        .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n")))
      (System.nanoTime() - t0) / 1e9
    }
    val calibration = (1 to 5).map(_ => calOnce()).min
    System.err.println(f"[bench] calibration: $calibration%.3fs")

    // best of 3 runs per query — 5 when the query runs in seconds-or-less,
    // where scheduler jitter is a large fraction of the runtime and
    // best-of-3 swung ±60% round-over-round with zero code change (queries
    // long enough to amortize jitter keep 3 so bench wall time stays
    // bounded at larger SFs). Later runs benefit from warm file metadata +
    // JIT, matching steady-state throughput, and the min is robust to a
    // concurrent process stealing cores mid-run.
    // SPARK_GRAFT_BENCH_ONLY=<substring[,substring…]> runs a subset — for
    // iterating on one query without paying the full suite (setup still
    // runs; the filter applies to measurement only)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // fails closed: an entry that throws gets no time (a throw after 10 ms
    // would otherwise read as a big speedup); it is listed under "failed"
    // and Bench exits non-zero after printing the JSON
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = (queries ++ probeScans ++ sortedScans ++ zScans ++ sqlScans ++
        rollupScans ++ spjScans)
        .filter { case (name, _) => only.forall(_.exists(name.contains)) }
        .flatMap { case (name, fn) =>
      def once(): Option[Double] = {
        currentQuery = Some(name); matSeq.set(0)
        val t0 = System.nanoTime()
        try { fn(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        } finally currentQuery = None
      }
      // n timed runs, stopping at the first failure
      def runs(n: Int): Option[Seq[Double]] = {
        val ts = Iterator.fill(n)(once()).takeWhile(_.isDefined).flatten.toSeq
        if (ts.size == n) Some(ts) else None
      }
      runs(3).flatMap(t => if (t.min < 2.0) runs(2).map(t ++ _) else Some(t)) match {
        case None => failed += name; None
        case Some(times) =>
          val dt = times.min
          val sorted = times.sorted
          val med =
            if (sorted.size % 2 == 1) sorted(sorted.size / 2)
            else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
          System.err.println(f"[bench] $name: $dt%.2fs (runs: ${times.map(t => f"$t%.2f").mkString(",")})")
          Some((name, dt, med))
      }
    }
    // calibration at END too (additions-only, r15): a mid-run ambient
    // contention event moves the medians and the end-probe while the start
    // probe stays clean — with only the start value such a run is
    // indistinguishable from a code regression. min-vs-median per query
    // serves the same purpose at query granularity.
    val calibrationEnd = (1 to 5).map(_ => calOnce()).min
    System.err.println(f"[bench] calibration_end: $calibrationEnd%.3fs")
    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.4f" }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, _, m) => "\"" + k + f"\":$m%.4f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cont = f"""{"load_avg":$loadAvg%.2f,"other_jvms":$otherJvms,"contended":$contended}"""
    // explain-capture runs stringify + write plans INSIDE the timed region;
    // flag them so their numbers are never mistaken for measurements
    val capture = explainDir.isDefined
    val json =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"sf":"$sfDir","calibration":$calibration%.4f,"calibration_end":$calibrationEnd%.4f,"queries_median":$qsMed,"explain_capture":$capture,"contention":$cont,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // stop Spark BEFORE emitting the JSON line: shutdown logging would
    // otherwise land after it in a merged stdout/stderr capture, so a
    // harness that parses the LAST line would read a log line instead of
    // the result. Echo to stderr too for captures that only keep stderr.
    // ALSO land the JSON in a file — 12 rounds of tail-regex fishing left
    // the driver's `parsed` field null (sbt's "[success] Total time" line
    // trails the last stdout line); a file is unambiguous.
    spark.stop()
    Console.flush(); System.err.flush()
    println(json)
    System.err.println(json)
    Console.flush(); System.err.flush()
    // file write LAST and non-fatal: a read-only cwd or bad
    // SPARK_GRAFT_BENCH_OUT must never discard the stdout result
    try {
      val outFile = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json"))
      java.nio.file.Files.write(outFile,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal, not just IOException: a malformed SPARK_GRAFT_BENCH_OUT
      // makes Paths.get throw InvalidPathException (a RuntimeException),
      // which must not crash the run after the result is already printed
      System.err.println(s"[bench] result file write failed: ${e.getMessage}")
    }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
