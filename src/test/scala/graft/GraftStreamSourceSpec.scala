package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.api._

/**
 * The graft table changefeed: manifest versions stream as micro-batches
 * (offsets = versions, batch = files added between two versions), so a
 * continuously-loaded corpus table feeds downstream pipelines incrementally
 * — never a corpus rescan, restart resumes from the checkpointed version.
 */
class GraftStreamSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType)))

  private def insert(s: VastSession, n: Int, tag: String): Unit =
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      val l = new java.util.ArrayList[Row]()
      (0 until n).foreach(i => l.add(Row(i.toLong, s"$tag$i")))
      // one file per insert: the COW-rewrite assertions below need the
      // delete victim to share its file with surviving rows
      t.insert(spark.createDataFrame(l, schema).coalesce(1))
    }

  test("manifest versions stream as micro-batches; checkpoint resumes at the delta") {
    val root = Files.createTempDirectory("graft-stream").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 5, "one")   // v2
    insert(s, 3, "two")   // v3
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-stream-ck").toString
    val out = Files.createTempDirectory("graft-stream-out").toString + "/sink"

    def drain(ignoreChanges: Boolean = false): Unit = {
      val reader = spark.readStream.format("graft")
      val src = (if (ignoreChanges) reader.option("ignoreChanges", "true")
                 else reader).load(tdir)
      val q = src.writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def sink() = spark.read.parquet(out)

    // first run: everything committed so far arrives
    drain()
    assert(sink().count() == 8)

    // second run, SAME checkpoint: ONLY the new version's rows arrive —
    // without version-delta semantics this would re-deliver all 8
    insert(s, 2, "three") // v4
    drain()
    assert(sink().count() == 10)
    assert(sink().filter(col("s").startsWith("three")).count() == 2)
    assert(sink().filter(col("s").startsWith("one")).count() == 5,
      "resumed stream re-delivered already-processed files")

    // batch read through the same provider sees the current snapshot
    assert(spark.read.format("graft").load(tdir).count() == 10)
    // requested-column pruning flows through the streaming relation
    assert(spark.readStream.format("graft").load(tdir).select("a")
      .schema.fieldNames.toSeq == Seq("a"))

    // a COW delete breaks the append-only contract: the stream FAILS with a
    // clear error instead of silently re-delivering rewritten rows
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.delete(t.select(Nil, col("s") === "one0", internalRowId = true)
        .select("_row_id"))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val err = intercept[Exception] { drain() }
    assert(messages(err).exists(_.contains("append-only")),
      s"wrong failure: ${messages(err).take(3)}")

    // ignoreChanges opts into at-least-once over the rewritten group: the
    // rewritten file (4 surviving rows of the deleted group) re-emits
    drain(ignoreChanges = true)
    assert(sink().count() == 14)
    // non-rewritten groups are still not re-delivered
    assert(sink().filter(col("s").startsWith("three")).count() == 2)
  }

  test("incremental curation: changefeed -> quality gate -> transactional sink") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("t", schema)       // raw ingest table (insert() targets it)
      m.createTable("curated", schema) // quality-gated output
    }
    def insertMixed(n: Int, tag: String): Unit = s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      val l = new java.util.ArrayList[Row]()
      (0 until n).foreach(i => l.add(
        Row(i.toLong, if (i % 2 == 0) s"long_enough_$tag$i" else s"no$i")))
      t.insert(spark.createDataFrame(l, schema).coalesce(1))
    }
    insertMixed(4, "a")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-pipe-ck").toString

    // the whole loop is engine-native: the changefeed reads only new files,
    // the gate is a map-side filter, and the sink commits through the
    // manifest CAS with batch-id dedup (exactly-once table contents)
    def runOnce(): Unit = {
      val gated = graft.llm.Curation.qualityGate(
        spark.readStream.format("graft").load(tdir).drop("_row_id"),
        length(col("s")).cast("double"), minScore = 6.0)
      val q = graft.streaming.Events.sinkToTable(
        gated, s, "bk", "m", "curated", ckpt)
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    s.transaction { tx =>
      val got = tx.bucket("bk").schema("m").table("curated")
        .select(Seq("s")).collect().map(_.getString(0)).sorted
      assert(got.toSeq == Seq("long_enough_a0", "long_enough_a2"))
    }
    // second ingest, new pipeline run, same checkpoint: only the delta flows
    insertMixed(4, "b")
    runOnce()
    s.transaction { tx =>
      val got = tx.bucket("bk").schema("m").table("curated")
        .select(Seq("s")).collect().map(_.getString(0)).sorted
      assert(got.toSeq == Seq("long_enough_a0", "long_enough_a2",
        "long_enough_b0", "long_enough_b2"),
        s"delta run produced ${got.toSeq}")
    }
  }

  test("repeated drains of one shape compile no new classes") {
    val root = Files.createTempDirectory("graft-stream-cg").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-stream-cg-ck").toString
    val emitted = ArrayBuffer.empty[Row]
    // one compile-time histogram update per compiled class
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** An insert, then one drain into an aggregating consumer; returns the
      * classes the drain compiled. Each drain is a new streaming query,
      * and so a new clone of the session. */
    def round(i: Int): Long = {
      insert(s, 20, s"r$i")
      val before = compiles
      spark.readStream.format("graft").option("ignoreChanges", "true").load(tdir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          emitted += df.agg(count(lit(1)), sum(col("a")), max(length(col("s")))).head()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
      compiles - before
    }
    val perDrain = (1 to 3).map(round)
    assert(emitted.map(_.getLong(0)) == Seq(20L, 20L, 20L))
    assert(perDrain(1) == 0 && perDrain(2) == 0, s"classes compiled per drain: $perDrain")
  }

  test("startingVersion=latest tails new commits without replaying history") {
    val root = Files.createTempDirectory("graft-stream-sv").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 5, "old") // history that must NOT replay
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-sv-ck").toString
    val out = Files.createTempDirectory("graft-sv-out").toString + "/sink"
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "latest").load(tdir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain() // nothing yet: stream tails from the current version
    assert(!Files.isDirectory(Paths.get(out)) ||
      spark.read.parquet(out).count() == 0)
    insert(s, 2, "new")
    drain() // checkpointed restart picks up only the tail
    assert(spark.read.parquet(out).select("s").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("new0", "new1"))
    // version history pairs with the feed: every commit visible with a stamp
    s.transaction { tx =>
      val h = tx.bucket("bk").schema("m").table("t").history()
        .orderBy("version").collect()
      assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
      assert(h.last.getLong(3) == 7L) // n_rows at current version
      assert(h.forall(!_.isNullAt(1)))
    }
  }

  test("mid-stream renames stream on; drops fail clearly; batch read follows renames") {
    val root = Files.createTempDirectory("graft-stream-ddl").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 2, "x")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-ddl-ck").toString
    val out = Files.createTempDirectory("graft-ddl-out").toString + "/sink"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    assert(spark.read.parquet(out).count() == 2)
    // a query whose schema was PINNED before the rename keeps streaming:
    // the post-rename insert's file carries the new physical name with no
    // rename map of its own, and the scan recovers the pinned→current name
    // from the rename stamps on older files — same column identity, served
    // under the pinned name
    val pinned = spark.readStream.format("graft").load(tdir) // schema (a, s)
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .renameColumn("s", "label"))
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(9L, "nine")),
        StructType(Seq(StructField("a", LongType),
          StructField("label", StringType)))).coalesce(1))
    }
    val q = pinned.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 3)
    assert(spark.read.parquet(out).filter(col("s") === "nine").count() == 1,
      "post-rename file not served under the pinned column name")
    // batch read through the provider follows the rename maps too (current
    // names out, old files' physical names mapped per group)
    assert(spark.read.format("graft").load(tdir)
      .select("label").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("nine", "x0", "x1"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // a DROP of a pinned column is a hard stop: its data genuinely stops
    // existing in new files, so serving the pinned schema would silently
    // null it — fail with a restart instruction instead
    val pinnedBeforeDrop = spark.readStream.format("graft").load(tdir) // (a, label)
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .dropColumn("label"))
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(10L)),
        StructType(Seq(StructField("a", LongType)))).coalesce(1))
    }
    val derr = intercept[Exception] {
      pinnedBeforeDrop.writeStream.format("noop")
        .option("checkpointLocation", ckpt) // resumes past the processed versions
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    }
    assert(messages(derr).exists(_.contains("dropped")),
      s"wrong drop failure: ${messages(derr).take(3)}")
    // a too-high startingVersion is a hard error, not a silent 'latest'
    val verr = intercept[Exception] {
      spark.readStream.format("graft").option("startingVersion", "99")
        .load(tdir).writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sv99").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    assert(messages(verr).exists(_.contains("beyond the table's current")),
      s"wrong startingVersion failure: ${messages(verr).take(3)}")
  }

  test("fuzz: random insert/drain interleavings deliver every row exactly once") {
    val rnd = new scala.util.Random(7)
    for (seed <- 0 until 3) {
      val root = Files.createTempDirectory(s"graft-fuzz$seed").toString
      val s = VastSession(spark, root)
      s.createBucket("bk")
      s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
      val tdir = Paths.get(root, "bk", "m", "t").toString
      val ckpt = Files.createTempDirectory(s"graft-fuzz-ck$seed").toString
      val out = Files.createTempDirectory(s"graft-fuzz-out$seed").toString + "/sink"
      var expected = List.empty[String]
      var batch = 0
      def drain(): Unit = {
        val q = spark.readStream.format("graft").load(tdir)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      for (_ <- 0 until 8) {
        if (rnd.nextBoolean()) {
          val n = 1 + rnd.nextInt(3)
          s.transaction { tx =>
            val t = tx.bucket("bk").schema("m").table("t")
            val l = new java.util.ArrayList[Row]()
            (0 until n).foreach(i => l.add(Row(i.toLong, s"b$batch-$i")))
            t.insert(spark.createDataFrame(l, schema).coalesce(1))
          }
          expected = expected ++ (0 until n).map(i => s"b$batch-$i")
          batch += 1
        } else drain()
      }
      drain() // final catch-up
      val got = spark.read.parquet(out).select("s").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == expected.sorted,
        s"seed $seed: exactly-once violated\n got=$got\n want=${expected.sorted}")
    }
  }

  test("maxFilesPerTrigger paces a backlog across micro-batches") {
    val root = Files.createTempDirectory("graft-stream-rate").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 2, "a") // three committed versions, one file each
    insert(s, 2, "b")
    insert(s, 2, "c")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-rate-ck").toString
    val out = Files.createTempDirectory("graft-rate-out").toString + "/sink"
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "1").load(tdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // everything arrives, but paced: one version per batch -> 3 batches
    assert(spark.read.parquet(out).count() == 6)
    val batches = new java.io.File(ckpt + "/offsets").list()
      .count(!_.startsWith("."))
    assert(batches == 3, s"expected 3 paced micro-batches, got $batches")

    // byte-budget pacing: each ~1 KB parquet file blows a 1-byte budget, so
    // the walk still advances exactly one version per batch (progress
    // guaranteed past an oversized commit) — same 3-batch shape, driven by
    // manifest-recorded sizes instead of file counts
    s.transaction { tx =>
      val fs = tx.bucket("bk").schema("m").table("t").manifest.files
      assert(fs.forall(_.bytes > 0), s"manifest sizes missing: $fs")
    }
    val ckpt2 = Files.createTempDirectory("graft-rate-ck2").toString
    val out2 = Files.createTempDirectory("graft-rate-out2").toString + "/sink"
    val q2 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(tdir)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out2).count() == 6)
    val batches2 = new java.io.File(ckpt2 + "/offsets").list()
      .count(!_.startsWith("."))
    assert(batches2 == 3, s"expected 3 byte-paced micro-batches, got $batches2")
  }

  test("stream filter pushdown skips parquet row groups") {
    val root = Files.createTempDirectory("graft-stream-pf").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    // two files with disjoint `a` ranges: the filter below selects only the
    // second, so with pushdown the first file's single row group is skipped
    // at the reader and its rows are never decoded
    def insertRange(lo: Long): Unit = s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      val l = new java.util.ArrayList[Row]()
      (0 until 5).foreach(i => l.add(Row(lo + i, s"r${lo + i}")))
      t.insert(spark.createDataFrame(l, schema).coalesce(1))
    }
    insertRange(0L)
    insertRange(100L)
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-pf-ck").toString
    val out = Files.createTempDirectory("graft-pf-out").toString + "/sink"
    val plansWithPush = new java.util.concurrent.atomic.AtomicInteger(0)
    val plansPruned = new java.util.concurrent.atomic.AtomicInteger(0)
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case st: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          if (st.physicalPlanDescription.contains("graft version-delta")) {
            if (st.physicalPlanDescription.contains("PushedFilters: ["))
              plansWithPush.incrementAndGet()
            // the select("a") below must prune `s` out of the decode set
            // (a + the filter column stay; _row_id rides along by design)
            if (st.physicalPlanDescription.contains("PrunedTo: [a, _row_id]"))
              plansPruned.incrementAndGet()
          }
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val q = spark.readStream.format("graft").load(tdir)
        .filter(col("a") >= 100L).select("a")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // listener bus is async: wait until the metrics settle
      var last = -1L
      var same = 0
      while (same < 4) {
        Thread.sleep(250)
        if (recordsRead.get() == last) same += 1
        else { same = 0; last = recordsRead.get() }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    // correctness: exactly the matching rows arrive
    assert(spark.read.parquet(out).select("a").collect()
      .map(_.getLong(0)).sorted.toSeq == (100L until 105L))
    // the micro-batch plan advertises the pushed filters on the scan node
    assert(plansWithPush.get() > 0,
      "no micro-batch plan showed PushedFilters on the graft scan")
    // ...and the consumed-column set reached the scan too
    assert(plansPruned.get() > 0,
      "no micro-batch plan showed the pruned column set on the graft scan")
    // ...and they actually pruned: only the matching file's 5 rows were
    // decoded (10 would mean the non-matching row group was read and the
    // rows discarded post-scan)
    assert(recordsRead.get() == 5,
      s"expected 5 decoded rows with row-group skipping, got ${recordsRead.get()}")
  }

  test("stream self-join shares one scan: union columns, only common filters") {
    val root = Files.createTempDirectory("graft-stream-sj").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 4, "sj")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val name = "graft_sj_sink"
    // two branches over the SAME readStream df: branch L filters a >= 2 and
    // keeps only `a`; branch R keeps `s`. The shared scan must decode the
    // union {a, s} and must NOT push branch L's filter (it would starve
    // branch R's a<2 rows out of the shared batch).
    val src = spark.readStream.format("graft").load(tdir)
    val left = src.filter(col("a") >= 2L).select(col("a").as("la"))
    val right = src.select(col("a").as("ra"), col("s"))
    val q = left.join(right, col("la") === col("ra"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sj-ck").toString).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(got == Seq((2L, "sj2"), (3L, "sj3")),
      s"self-join over one changefeed scan broke: $got")
  }

  test("live query crosses a rename without restart, all three file eras served") {
    val root = Files.createTempDirectory("graft-stream-livern").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 1, "era1_") // pre-pin file (physical s)
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-livern-ck").toString
    val name = "graft_livern_sink"
    val q = spark.readStream.format("graft").load(tdir)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // era 2: inserted after the pin, stamped by the rename below (carries
      // a rename map, physical s); era 3: inserted after the rename
      // (physical label, no map) — the derived pinned→current mapping
      insert(s, 1, "era2_")
      s.transaction(tx => tx.bucket("bk").schema("m").table("t")
        .renameColumn("s", "label"))
      s.transaction { tx =>
        val t = tx.bucket("bk").schema("m").table("t")
        t.insert(spark.createDataFrame(java.util.List.of(Row(0L, "era3_0")),
          StructType(Seq(StructField("a", LongType),
            StructField("label", StringType)))).coalesce(1))
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).select("s").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("era1_0", "era2_0", "era3_0"),
      s"rename-crossing stream lost or nulled rows: ${got.toSeq}")
  }

  test("mid-stream rename + re-added old name: pinned column follows the identity") {
    val root = Files.createTempDirectory("graft-stream-readd").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 1, "era1_")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val name = "graft_readd_sink"
    val q = spark.readStream.format("graft").load(tdir) // pins (a, s)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-readd-ck").toString).start()
    try {
      q.processAllAvailable()
      // rename the pinned column away, then RE-ADD a fresh column under the
      // old name — a name collision that must not confuse identity
      // resolution: pinned `s` is the identity now called `label`, never
      // the impostor
      s.transaction { tx =>
        val t = tx.bucket("bk").schema("m").table("t")
        t.renameColumn("s", "label")
        t.addColumn(StructField("s", StringType))
      }
      s.transaction { tx =>
        val t = tx.bucket("bk").schema("m").table("t")
        t.insert(spark.createDataFrame(
          java.util.List.of(Row(1L, "identity_val", "impostor_val")),
          StructType(Seq(StructField("a", LongType),
            StructField("label", StringType), StructField("s", StringType))))
          .coalesce(1))
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).orderBy("a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((0L, "era1_0"), (1L, "identity_val")),
      s"pinned column leaked the re-added impostor or nulled: $got")
  }

  test("rename round-trip (s->label->s) stays readable and streamable") {
    val root = Files.createTempDirectory("graft-stream-rt").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 1, "era1_") // physical s, stamped {s->s} by the round trip
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .renameColumn("s", "label"))
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(1L, "era2_0")),
        StructType(Seq(StructField("a", LongType),
          StructField("label", StringType)))).coalesce(1)) // physical label
    }
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .renameColumn("label", "s")) // back to the original name
    insert(s, 1, "era3_") // wait: insert() writes tag+i at a=i -> era3_0 at a=0
    val tdir = Paths.get(root, "bk", "m", "t").toString
    // identity claims ({s->s}) plus the {label->s} claim used to read as
    // "two physicals claim s" and brick every new scan — batch AND stream
    // must instead serve all three eras under the round-tripped name
    val batch = spark.read.format("graft").load(tdir)
      .select("s").collect().map(_.getString(0)).sorted.toSeq
    assert(batch == Seq("era1_0", "era2_0", "era3_0"),
      s"round-tripped batch read wrong: $batch")
    val out = Files.createTempDirectory("graft-rt-out").toString + "/sink"
    val q = spark.readStream.format("graft").load(tdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-rt-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("s").collect().map(_.getString(0)).sorted.toSeq
    assert(streamed == Seq("era1_0", "era2_0", "era3_0"),
      s"round-tripped stream wrong: $streamed")
  }

  test("batch version-range reads: time travel, table changes, guards") {
    val root = Files.createTempDirectory("graft-batch-range").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema)) // v0
    insert(s, 2, "one")   // v1
    insert(s, 3, "two")   // v2
    insert(s, 1, "three") // v3
    val tdir = Paths.get(root, "bk", "m", "t").toString
    def tags(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("s").collect().map(_.getString(0)).sorted.toSeq

    // time travel: full state AS OF v1 — later commits invisible
    assert(tags(spark.read.format("graft").option("endingVersion", "1")
      .load(tdir)) == Seq("one0", "one1"))
    // table changes: files added in (v1, v3]
    assert(tags(spark.read.format("graft").option("startingVersion", "1")
      .load(tdir)) == Seq("three0", "two0", "two1", "two2"))
    // both bounds: exactly v2's commit
    assert(tags(spark.read.format("graft").option("startingVersion", "1")
      .option("endingVersion", "2").load(tdir)) == Seq("two0", "two1", "two2"))
    // schema pins at endingVersion: a rename AFTER e is invisible to the read
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .renameColumn("s", "label")) // v4
    val atV3 = spark.read.format("graft").option("endingVersion", "3").load(tdir)
    assert(atV3.columns.contains("s") && !atV3.columns.contains("label"))
    assert(tags(atV3).size == 6)
    // and the unbounded read sees the NEW name
    assert(spark.read.format("graft").load(tdir).columns.contains("label"))

    // append-only guard across the span: a COW delete removes a file
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .deleteWhere(col("label") === "two1")) // v5 rewrites v2's file
    val err = intercept[Exception](spark.read.format("graft")
      .option("startingVersion", "2").load(tdir).collect())
    assert(err.getMessage.contains("append-only"), s"wrong error: $err")
    val relaxed = spark.read.format("graft").option("startingVersion", "2")
      .option("ignoreChanges", "true").load(tdir)
    assert(relaxed.select("label").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("three0", "two0", "two2")) // rewritten survivors re-emitted, victim gone
    // option validation fails loudly
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("endingVersion", "99").load(tdir).collect())
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("startingVersion", "4").option("endingVersion", "2")
      .load(tdir).collect())
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("startingVersion", "latest").load(tdir).collect())
    // a vacuumed version fails with batch guidance, not a stream-restart hint
    s.transaction(tx =>
      tx.bucket("bk").schema("m").table("t").vacuumVersions(1, 0L))
    val gone = intercept[IllegalArgumentException](spark.read.format("graft")
      .option("endingVersion", "1").load(tdir).collect())
    assert(gone.getMessage.contains("version retention"),
      s"wrong vacuumed-version error: ${gone.getMessage}")
    // endingVersion is batch-only: the stream rejects it at start. Version
    // 5 is the RETAINED one — a vacuumed version would trip the retention
    // error at load() and never reach the guard under test
    val q = intercept[Exception] {
      spark.readStream.format("graft").option("endingVersion", "5").load(tdir)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ev-ck").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(q).exists(_.contains("BATCH read option")),
      s"stream endingVersion guard not reached: ${msgs(q).take(3)}")
  }

  test("batch backfill composes gap-free with a stream tailing from its end") {
    // the operational pattern version-range reads exist for: catch up with
    // one batch read AS OF version e, then tail with startingVersion=e —
    // batch serves (0, e], stream serves (e, ∞), no row lost or doubled
    val root = Files.createTempDirectory("graft-compose").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 2, "a") // v1
    insert(s, 2, "b") // v2
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val e = graft.api.Table.currentVersion(Paths.get(tdir))
    assert(e == 2L)
    val backfill = spark.read.format("graft")
      .option("endingVersion", e.toString).load(tdir)
      .select("s").collect().map(_.getString(0)).toSeq
    insert(s, 2, "c") // v3 — committed between backfill and stream start
    insert(s, 2, "d") // v4
    val out = Files.createTempDirectory("graft-compose-out").toString + "/sink"
    val q = spark.readStream.format("graft")
      .option("startingVersion", e.toString).load(tdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-compose-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val tail = spark.read.parquet(out)
      .select("s").collect().map(_.getString(0)).toSeq
    val union = (backfill ++ tail).sorted
    assert(union == Seq("a0", "a1", "b0", "b1", "c0", "c1", "d0", "d1"),
      s"backfill+tail not exactly-once: backfill=$backfill tail=$tail")
  }

  test("writeStream.format(graft) sink: exactly-once append and Complete overwrite") {
    val root = Files.createTempDirectory("graft-sink").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("t", schema)
      m.createTable("curated", schema)
    }
    insert(s, 3, "a")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-sink-ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id").filter(col("a") < 2)
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "curated")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    def curated(): Seq[String] = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("curated")
        .select(Seq("s")).collect().map(_.getString(0)).sorted.toSeq)
    assert(curated() == Seq("a0", "a1"))
    // restart on the same checkpoint after a new commit: only the delta
    // lands — replayed batch ids are recognized and skipped
    insert(s, 3, "b")
    drain()
    assert(curated() == Seq("a0", "a1", "b0", "b1"),
      s"sink re-delivered or missed rows: ${curated()}")

    // Complete mode: a streaming aggregate OVERWRITES its result table
    s.transaction(tx => tx.bucket("bk").schema("m").createTable("agg",
      StructType(Seq(StructField("s", StringType), StructField("n", LongType)))))
    def drainAgg(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .groupBy(substring(col("s"), 1, 1).as("s")).agg(count(lit(1)).as("n"))
        .writeStream.format("graft").outputMode("complete")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "agg")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sink-aggck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drainAgg()
    val aggRows = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("agg").select(Seq("s", "n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq)
    assert(aggRows == Seq(("a", 3L), ("b", 3L)), s"complete-mode agg: $aggRows")

    // option and mode validation
    intercept[Exception] {
      spark.readStream.format("graft").load(tdir)
        .writeStream.format("graft").option("root", root)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sink-badck").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
  }

  test("sink maintainRollups: each batch commits data + incrementally fresh rollups") {
    val root = Files.createTempDirectory("graft-sink-ru").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("t", schema)
      val cur = m.createTable("curated", schema)
      cur.createAggProjection("by_s", Seq("s"), Seq("a"))
    }
    insert(s, 4, "a")
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-sink-ruck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "curated")
        .option("maintainRollups", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    // the batch transaction published data AND a fresh rollup atomically
    s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      assert(cur.aggProjections.nonEmpty && cur.aggProjections.forall(!_.stale),
        "rollup must be fresh right after the batch commit")
    }
    insert(s, 4, "b")
    drain()
    s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      assert(cur.aggProjections.forall(!_.stale))
      // second batch refreshed INCREMENTALLY (only batch files re-read)
      val incr = tx.auditLog()
        .filter(col("op") === "refresh_agg_projection_incr").count()
      assert(incr >= 1, "append-mode sink maintenance must merge, not rebuild")
    }
    // and the maintained rollup answers queries through the catalog
    spark.conf.set("spark.sql.catalog.gsru",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gsru.root", root)
    val df = spark.sql(
      "SELECT s, count(*) AS n FROM gsru.bk.m.curated GROUP BY s")
    val routed = df.queryExecution.optimizedPlan.collect {
      case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if sr.relation.table.name.contains("$") => sr.relation.table.name
    }
    assert(routed.nonEmpty, "maintained rollup did not serve the aggregate")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      .equals((0 until 4).map(i => (s"a$i", 1L)) ++
        (0 until 4).map(i => (s"b$i", 1L))))
  }

  test("sink maintainIndexes: every batch lands with full index coverage") {
    val root = Files.createTempDirectory("graft-sink-idx").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("t", schema)
      val cur = m.createTable("curated", schema)
      cur.createTextIndex("s")
      cur.createDedupIndex("s")
    }
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-sink-idxck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "curated")
        .option("maintainIndexes", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // coverage check: every index partition dir tracks exactly the live
    // data files — i.e. the batch refresh ran inside the batch commit
    def assertCovered(): Unit = s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      val files = cur.manifest.files
        .map(f => f.path.substring(f.path.lastIndexOf('/') + 1)).toSet
      cur.manifest.dedupIndexes.foreach { meta =>
        val base = Paths.get(root, "bk", "m", "curated").resolve(meta.dir)
        val covDir = if (meta.kind == "fts") base.resolve("postings") else base
        val covered = Table.listDir(covDir).map(_.getFileName.toString)
          .filter(_.startsWith("__src=")).map(_.stripPrefix("__src=")).toSet
        assert(covered == files,
          s"${meta.kind} index coverage $covered != live files $files")
      }
    }
    insert(s, 4, "a")
    drain()
    assertCovered()
    s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      assert(cur.textSearch("s", Seq("a1"), 5).count() == 1)
      assert(cur.dedupMinhashPairs("s").count() == 0)
    }
    insert(s, 4, "b")
    drain()
    assertCovered()
    s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      assert(cur.textSearch("s", Seq("b2"), 5).count() == 1)
    }
  }

  test("soak: 50 micro-batches of rollup maintenance under concurrent routed reads") {
    val root = Files.createTempDirectory("graft-sink-soak").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("t", schema)
      m.createTable("curated", schema).createAggProjection("by_s", Seq("s"), Seq("a"))
    }
    val nBatches = 50
    (0 until nBatches).foreach(_ => insert(s, 1, "x")) // 50 one-file commits
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-soak-ck").toString

    // concurrent reader: hammers the curated aggregate through the catalog
    // for the WHOLE drain — every result must be internally consistent
    // (count n == sum of per-key counts it was served with), routed or not
    spark.conf.set("spark.sql.catalog.gsoak",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gsoak.root", root)
    @volatile var stop = false
    @volatile var readerErr: Option[Throwable] = None
    var routedReads = 0
    var reads = 0
    val reader = new Thread(() => {
      try while (!stop) {
        val df = spark.sql(
          "SELECT s, count(*) AS n, sum(a) AS sa FROM gsoak.bk.m.curated GROUP BY s")
        val routed = df.queryExecution.optimizedPlan.collect {
          case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
              if sr.relation.table.name.contains("$") => sr.relation.table.name
        }
        val rows = df.collect()
        // schema row: a=0, s=x0 per batch → every observed state must
        // have n == sa/0-consistency: a is always 0 so sum is 0; count
        // grows monotonically up to nBatches
        rows.foreach { r =>
          assert(r.getLong(1) >= 0 && r.getLong(1) <= nBatches)
          assert(r.getLong(2) == 0L, s"torn read: $r")
        }
        if (routed.nonEmpty) routedReads += 1
        reads += 1
      } catch { case t: Throwable => readerErr = Some(t) }
    })
    reader.start()
    try {
      // one file per trigger → 50 sink micro-batches, each committing data
      // + an incremental rollup refresh in ONE transaction, while the
      // reader routes through the rollup between batches
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "1").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "curated")
        .option("maintainRollups", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(480000)
    } finally { stop = true; reader.join(30000) }
    assert(readerErr.isEmpty, s"concurrent reader failed: $readerErr")
    assert(reads > 0, "reader never completed a query")

    s.transaction { tx =>
      val cur = tx.bucket("bk").schema("m").table("curated")
      // every batch landed, the rollup is fresh, and maintenance was
      // incremental (no conflict storm forced full rebuilds or retries)
      assert(cur.select().count() == nBatches.toLong)
      assert(cur.aggProjections.forall(!_.stale))
      val incr = tx.auditLog()
        .filter(col("op") === "refresh_agg_projection_incr").count()
      assert(incr >= nBatches - 2,
        s"expected ~$nBatches incremental refreshes, saw $incr")
    }
    // the lag the stream left behind is exactly zero
    val lag = spark.sql(s"CALL gsoak.system.stream_lag('bk.m.t', '$ckpt')").head()
    assert(lag.getLong(2) == 0 && lag.getLong(3) == 0 && lag.getLong(4) == 0,
      s"stream lag did not drain: $lag")
    // and the final routed answer is correct
    val fin = spark.sql(
      "SELECT count(*) AS n FROM gsoak.bk.m.curated").head().getLong(0)
    assert(fin == nBatches.toLong)
    info(s"soak: $reads concurrent reads, $routedReads routed through the rollup")
  }

  test("soak: scoreWith under continuous model churn, alternating binary/softmax swaps") {
    // Two scoring sinks drain a 50-commit stream (one micro-batch per
    // commit) while a churn thread OVERWRITES the model tables the whole
    // time, alternating which kind it swaps. The sink re-reads the model
    // inside each batch's transaction, so every scored row must carry
    // values computed from exactly ONE committed model version:
    //  - binary models are (zero weights, bias=v) → quality_score must be
    //    bitwise sigmoid(v) for some committed v; a torn/blended read
    //    lands between versions and fails membership
    //  - softmax models are 3 class rows (zero weights; bias 6 on class
    //    v mod 3) → a read spanning two versions either trips
    //    softmaxModelFromDf's classes-0..K-1 require (killing the stream)
    //    or yields a ~0.5 confidence, far from the single-version 1/(1+2e⁻⁶)
    val root = Files.createTempDirectory("graft-sink-churn").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val versionsBin = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val versionsSm = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def writeBinary(v: Long): Unit = s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val df = graft.llm.Classifier.modelToDf(spark,
        graft.llm.Classifier.LrModel(new Array[Double](8), v.toDouble, Array(0.0)))
      if (m.tables.contains("model_bin")) m.table("model_bin").overwrite(df)
      else m.createTable("model_bin", df.schema).insert(df)
      versionsBin.add(v)
    }
    def writeSoftmax(v: Long): Unit = s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val biases = Array.tabulate(3)(k => if (k == (v % 3).toInt) 6.0 else 0.0)
      val df = graft.llm.Classifier.softmaxModelToDf(spark,
        graft.llm.Classifier.SoftmaxModel(
          Array.fill(3)(new Array[Double](8)), biases, Array(0.0)))
      if (m.tables.contains("model_sm")) m.table("model_sm").overwrite(df)
      else m.createTable("model_sm", df.schema).insert(df)
      versionsSm.add(v)
    }
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("scored_bin", StructType(docSchema.fields :+
        StructField("quality_score", DoubleType)))
      m.createTable("scored_sm", StructType(docSchema.fields ++ Seq(
        StructField("predicted_class", IntegerType),
        StructField("confidence", DoubleType))))
    }
    writeBinary(0); writeSoftmax(0)
    val nBatches = 50
    (0 until nBatches).foreach { i =>
      s.transaction { tx =>
        tx.bucket("bk").schema("m").table("raw").insert(
          spark.createDataFrame(
            java.util.List.of(Row(i.toLong, s"doc $i")), docSchema)
            .coalesce(1))
      }
    }
    @volatile var stop = false
    @volatile var churnErr: Option[Throwable] = None
    val churn = new Thread(() => {
      var v = 1L
      try while (!stop) {
        // alternate which KIND gets swapped; retry optimistic conflicts
        // with the concurrently-committing sinks
        try {
          if (v % 2 == 0) writeBinary(v) else writeSoftmax(v)
          v += 1
        } catch { case _: graft.api.Conflict => }
        Thread.sleep(20)
      } catch { case t: Throwable => churnErr = Some(t) }
    })
    churn.start()
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    def drain(outTable: String, modelTable: String): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "1").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", outTable)
        .option("scoreWith", s"bk.m.$modelTable")
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-churn-ck-$outTable").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(480000)
      assert(q.exception.isEmpty,
        s"stream over $outTable died (torn model read?): ${q.exception}")
    }
    try {
      drain("scored_bin", "model_bin")
      drain("scored_sm", "model_sm")
    } finally { stop = true; churn.join(30000) }
    assert(churnErr.isEmpty, s"churn thread failed: $churnErr")
    s.transaction { tx =>
      val bin = tx.bucket("bk").schema("m").table("scored_bin")
        .select(Seq("id", "quality_score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      assert(bin.length == nBatches)
      val validBin = versionsBin.toArray(Array.empty[java.lang.Long])
        .map(v => 1.0 / (1.0 + math.exp(-v.toDouble))).toSet
      bin.foreach { case (id, sc) =>
        assert(validBin.contains(sc),
          s"doc $id quality_score $sc matches NO committed binary model " +
            s"(torn read across versions?)")
      }
      val sm = tx.bucket("bk").schema("m").table("scored_sm")
        .select(Seq("id", "predicted_class", "confidence")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(sm.length == nBatches)
      val e6 = math.exp(-6.0)
      val expectConf = 1.0 / ((1.0 + e6) + e6)
      sm.foreach { case (id, cls, conf) =>
        assert(cls >= 0 && cls <= 2, s"doc $id class $cls")
        assert(math.abs(conf - expectConf) < 1e-12,
          s"doc $id confidence $conf != single-version $expectConf " +
            s"(torn softmax class rows?)")
      }
      // the churn actually moved under both drains
      info(s"churn: ${versionsBin.size} binary + ${versionsSm.size} softmax versions; " +
        s"${bin.map(_._2).distinct.length} distinct binary scores, " +
        s"${sm.map(_._2).distinct.length} distinct predicted classes observed")
      assert(versionsBin.size > 2 && versionsSm.size > 2,
        "churn thread barely ran — soak did not exercise model swaps")
    }
  }

  test("drop tombstones never resurrect through a fresh stream or batch read") {
    val root = Files.createTempDirectory("graft-stream-tomb").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 2, "old") // physical s = the FIRST identity
    s.transaction(tx => tx.bucket("bk").schema("m").table("t").dropColumn("s"))
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .addColumn(StructField("s", StringType))) // same name, NEW identity
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(7L, "new0")), schema)
        .coalesce(1))
    }
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val out = Files.createTempDirectory("graft-tomb-out").toString + "/sink"
    val q = spark.readStream.format("graft").load(tdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-tomb-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sink = spark.read.parquet(out)
    assert(sink.count() == 3)
    // the old files' physical bytes for the dropped identity stay buried
    assert(sink.filter(col("s").isNull).count() == 2,
      "dropped column bytes resurrected under the re-added name")
    assert(sink.filter(col("s") === "new0").count() == 1)
    // batch read through the provider agrees
    val b = spark.read.format("graft").load(tdir)
    assert(b.filter(col("s").isNull).count() == 2)
    assert(b.filter(col("s") === "new0").count() == 1)
  }

  test("paced fresh stream over vacuumed history folds the gap into one step") {
    val root = Files.createTempDirectory("graft-stream-vac").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 2, "a")
    insert(s, 2, "b")
    insert(s, 2, "c")
    s.transaction(tx => tx.bucket("bk").schema("m").table("t")
      .vacuumVersions(keepLast = 1, minAgeMillis = 0L))
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val out = Files.createTempDirectory("graft-vac-out").toString + "/sink"
    // a PACED fresh stream used to fail here: the admission walk read every
    // intermediate manifest, and the vacuumed ones threw. Now it skips the
    // holes — only the endpoint manifests are load-bearing.
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "1").load(tdir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-vac-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 6,
      "vacuumed-history stream lost rows")
  }

  test("CALL stream_lag reports a backlogged stream and drains to zero") {
    val root = Files.createTempDirectory("graft-lag").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insert(s, 5, "one") // v1
    insert(s, 3, "two") // v2
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-lag-ck").toString
    val out = Files.createTempDirectory("graft-lag-out").toString + "/sink"
    spark.conf.set("spark.sql.catalog.glag",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.glag.root", root)
    def lag(): (Long, Long, Long, Long, Long) = {
      val r = spark.sql(
        s"CALL glag.system.stream_lag('bk.m.t', '$ckpt')").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    // no batch committed yet: everything is pending
    val before = lag()
    assert(before == ((-1L, 2L, 3L, 8L, before._5)) && before._5 > 0L,
      s"pre-stream lag wrong: $before")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    assert(lag() == ((2L, 2L, 0L, 0L, 0L)), s"drained lag wrong: ${lag()}")
    // two more commits land while the stream is down: versions/rows/bytes
    // behind, computed from manifests alone
    insert(s, 4, "three") // v3
    insert(s, 2, "four")  // v4
    val backlog = lag()
    assert(backlog == ((2L, 4L, 2L, 6L, backlog._5)) && backlog._5 > 0L,
      s"backlog lag wrong: $backlog")
    drain()
    assert(lag() == ((4L, 4L, 0L, 0L, 0L)), s"post-drain lag wrong: ${lag()}")
  }
  test("sink suppressNearDups: ingest-time near-dup suppression via the dedup index") {
    val root = Files.createTempDirectory("graft-sink-nd").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // ~40-token docs; a near-dup changes ONE token (3-shingle jaccard
    // ~0.93, far above the 0.7 threshold), a fresh doc shares nothing
    def doc(tag: String, last: String = "end") =
      (1 to 40).map(i => s"$tag$i").mkString(" ") + " " + last
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      val t = m.createTable("corpus", docSchema)
      t.createDedupIndex("text")
    }
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-ndck").toString
    def insertRaw(rows: (Long, String)*): Unit = s.transaction { tx =>
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (i, tx2) => l.add(Row(i, tx2)) }
      tx.bucket("bk").schema("m").table("raw")
        .insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "corpus")
        .option("suppressNearDups", "text")
        .option("maintainIndexes", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"sink died: ${q.exception}")
    }
    def corpusIds(): Set[Long] = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("corpus")
        .select(Seq("id")).collect().map(_.getLong(0)).toSet)

    insertRaw(0L -> doc("alpha"), 1L -> doc("beta"))
    drain()
    assert(corpusIds() == Set(0L, 1L), "first batch inserts everything")
    // batch 2: near-dup of alpha (one-token change) -> suppressed; EXACT
    // dup of beta -> suppressed; exact pair within the batch -> one
    // survives; a fresh doc -> survives
    insertRaw(2L -> doc("alpha", last = "CHANGED"),
      3L -> doc("beta"),
      4L -> doc("gamma"), 5L -> doc("gamma"),
      6L -> doc("delta"))
    drain()
    val after2 = corpusIds()
    assert(!after2.contains(2L), "near-dup of committed alpha must drop")
    assert(!after2.contains(3L), "exact dup of committed beta must drop")
    assert(after2.contains(6L), "fresh doc must survive")
    assert(after2.count(Set(4L, 5L)) == 1,
      s"exactly one of the intra-batch exact pair survives, got $after2")
    // batch 3: near-dup of batch-2's gamma survivor — proves
    // maintainIndexes made the PREVIOUS batch's survivors probe-able
    insertRaw(7L -> doc("gamma", last = "ALSOCHANGED"), 8L -> doc("epsilon"))
    drain()
    val after3 = corpusIds()
    assert(!after3.contains(7L),
      "near-dup of the previous batch's survivor must drop (index fresh)")
    assert(after3.contains(8L))
    // probe API attribution: the match carries the corpus row it hit
    s.transaction { tx =>
      import spark.implicits._
      val t = tx.bucket("bk").schema("m").table("corpus")
      val hits = t.probeNearDups("text",
        Seq((99L, doc("alpha", last = "ANOTHER"))).toDF("id", "text"), "id")
      val got = hits.select("q_id", "similarity").collect()
      assert(got.nonEmpty && got.forall(_.getLong(0) == 99L))
      assert(got.forall(_.getDouble(1) >= 0.7))
    }
  }

  test("sink suppressDupSpans: ingest-time exact-substring suppression via the span index") {
    val root = Files.createTempDirectory("graft-sink-sp").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def block(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      val t = m.createTable("corpus", docSchema)
      t.createSpanIndex("text", spanTokens = 8, stride = 1)
    }
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-spck").toString
    def insertRaw(rows: (Long, String)*): Unit = s.transaction { tx =>
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (i, tx2) => l.add(Row(i, tx2)) }
      tx.bucket("bk").schema("m").table("raw")
        .insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "corpus")
        .option("suppressDupSpans", "text")
        .option("suppressSpanFrac", "0.5")
        .option("maintainIndexes", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"sink died: ${q.exception}")
    }
    def corpusIds(): Set[Long] = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("corpus")
        .select(Seq("id")).collect().map(_.getLong(0)).toSet)

    insertRaw(0L -> (block("alpha", 40) + " " + block("atail", 4)),
      1L -> block("beta", 40))
    drain()
    assert(corpusIds() == Set(0L, 1L), "first batch inserts everything")
    // batch 2: a re-crawl copying alpha's 40-token block into new framing
    // (40 of 50 tokens covered = 0.8 >= 0.5) drops; a doc quoting only a
    // 10-token slice of beta (10 of 40 = 0.25) survives; fresh survives
    insertRaw(
      2L -> (block("new", 5) + " " + block("alpha", 40) + " " + block("more", 5)),
      3L -> (block("fresh", 30) + " " +
        (1 to 10).map(i => s"beta$i").mkString(" ")),
      4L -> block("gamma", 40))
    drain()
    val after2 = corpusIds()
    assert(!after2.contains(2L), "mostly-copied re-crawl must drop")
    assert(after2.contains(3L), "small quoted slice survives (0.25 < 0.5)")
    assert(after2.contains(4L), "fresh doc survives")
    // batch 3: a copy of batch-2's gamma survivor drops — maintainIndexes
    // made the previous batch's windows probe-able
    insertRaw(5L -> (block("gamma", 40) + " " + block("pad", 3)),
      6L -> block("delta", 40))
    drain()
    val after3 = corpusIds()
    assert(!after3.contains(5L),
      "copy of the previous batch's survivor must drop (index fresh)")
    assert(after3.contains(6L))
    // probe attribution: per-row covered-token accounting
    s.transaction { tx =>
      import spark.implicits._
      val t = tx.bucket("bk").schema("m").table("corpus")
      val p = t.probeDupSpans("text",
        Seq((99L, block("delta", 20) + " " + block("zz", 20)))
          .toDF("id", "text"), "id").head()
      assert(p.getLong(1) == 40L && p.getLong(2) == 20L &&
        p.getDouble(3) == 0.5, s"got $p")
    }
  }

  test("sink suppressNearDups rejects Complete mode (would suppress against replaced rows)") {
    val root = Files.createTempDirectory("graft-sink-ndcm").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("agg", StructType(Seq(StructField("text", StringType),
        StructField("n", LongType)))).createDedupIndex("text")
      tx.bucket("bk").schema("m").table("raw").insert(
        spark.createDataFrame(java.util.List.of(Row(0L, "a doc")), docSchema)
          .coalesce(1))
    }
    val q = spark.readStream.format("graft")
      .load(Paths.get(root, "bk", "m", "raw").toString)
      .drop("_row_id")
      .groupBy("text").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("graft")
      .outputMode("complete")
      .option("root", root).option("bucket", "bk")
      .option("schema", "m").option("table", "agg")
      .option("suppressNearDups", "text")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sink-ndcmck").toString)
      .trigger(Trigger.AvailableNow())
    val e = intercept[Exception] { q.start().awaitTermination(60000) }
    assert(e.getMessage.contains("Append mode") ||
      e.getCause != null && e.getCause.getMessage.contains("Append mode"),
      s"expected the Append-mode guard, got: $e")
  }

  test("sink suppressNearDups + scoreWith compose: suppress first, score survivors") {
    val root = Files.createTempDirectory("graft-sink-ndsc").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def doc(tag: String, last: String = "end") =
      (1 to 40).map(i => s"$tag$i").mkString(" ") + " " + last
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      val t = m.createTable("corpus", StructType(docSchema.fields :+
        StructField("quality_score", DoubleType)))
      t.createDedupIndex("text")
      val model = graft.llm.Classifier.LrModel(
        new Array[Double](8), 1.0, Array(0.0)) // score = sigmoid(1) always
      m.createTable("model", graft.llm.Classifier
        .modelToDf(spark, model).schema)
        .insert(graft.llm.Classifier.modelToDf(spark, model))
    }
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-ndscck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "corpus")
        .option("suppressNearDups", "text")
        .option("scoreWith", "bk.m.model")
        .option("maintainIndexes", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"sink died: ${q.exception}")
    }
    def insertRaw(rows: (Long, String)*): Unit = s.transaction { tx =>
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (i, txt) => l.add(Row(i, txt)) }
      tx.bucket("bk").schema("m").table("raw")
        .insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    insertRaw(0L -> doc("alpha"))
    drain()
    insertRaw(1L -> doc("alpha", last = "CHANGED"), 2L -> doc("beta"))
    drain()
    s.transaction { tx =>
      val out = tx.bucket("bk").schema("m").table("corpus")
        .select(Seq("id", "quality_score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.keySet == Set(0L, 2L),
        s"near-dup must drop BEFORE scoring, got ${out.keySet}")
      val want = 1.0 / (1.0 + math.exp(-1.0))
      assert(out.values.forall(_ == want), "survivors carry the model score")
    }
  }

  test("sink scoreWith: ingest-time quality scoring from a persisted model") {
    val root = Files.createTempDirectory("graft-sink-score").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def docText(i: Long): String =
      if (i % 2 == 0) s"evenmarker evenmarker evenmarker unique$i"
      else s"oddmarker oddmarker oddmarker unique$i"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("scoredout", StructType(docSchema.fields :+
        StructField("quality_score", DoubleType)))
      // fit a model on a labeled sample and persist it
      val l = new java.util.ArrayList[Row]()
      (0L until 40L).foreach(i => l.add(Row(i, docText(i))))
      val sample = spark.createDataFrame(l, docSchema)
        .withColumn("lbl", (col("id") % 2 === 0).cast("double"))
        .withColumn("x", graft.llm.TextAnalysis.hashEmbedding(col("text"), 16))
      val model = graft.llm.Classifier.lrFitNewton(sample, "lbl", "x",
        dim = 16, iters = 6)
      val mt = m.createTable("model",
        graft.llm.Classifier.modelToDf(spark, model).schema)
      mt.insert(graft.llm.Classifier.modelToDf(spark, model))
    }
    // two micro-batches of raw docs through the scoring sink
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-scoreck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "scoredout")
        .option("scoreWith", "bk.m.model")
        .option("scoreTextCol", "text")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def insertRaw(ids: Range): Unit = s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("raw")
      val l = new java.util.ArrayList[Row]()
      ids.foreach(i => l.add(Row(i.toLong, docText(i.toLong))))
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    insertRaw(100 until 110)
    drain()
    insertRaw(110 until 120)
    drain()
    s.transaction { tx =>
      val out = tx.bucket("bk").schema("m").table("scoredout")
        .select(Seq("id", "quality_score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.size == 20, s"expected 20 scored rows, got ${out.size}")
      assert(out.values.forall(v => v > 0.0 && v < 1.0))
      // the persisted model separates the classes on UNSEEN ids
      val evenMin = out.collect { case (k, v) if k % 2 == 0 => v }.min
      val oddMax = out.collect { case (k, v) if k % 2 == 1 => v }.max
      assert(evenMin > oddMax,
        s"even-class min $evenMin should exceed odd-class max $oddMax")
      // scoring equals the batch-side formula exactly (same expression)
      val model = graft.llm.Classifier.modelFromDf(
        tx.bucket("bk").schema("m").table("model").select())
      val expect = tx.bucket("bk").schema("m").table("scoredout")
        .select(Seq("id", "text", "quality_score"))
        .withColumn("again", graft.llm.Classifier.lrScore(
          graft.llm.TextAnalysis.hashEmbedding(col("text"), model.dim), model))
        .filter(col("again") =!= col("quality_score")).count()
      assert(expect == 0, "ingest-time score must equal the batch formula")
    }
  }

  test("sink scoreWith: a DSIR model table scores importance on ingest") {
    val root = Files.createTempDirectory("graft-sink-dsir").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def docText(i: Long): String =
      if (i % 2 == 0) s"alpha beta gamma alpha beta gamma tail$i"
      else s"spam offer click spam offer click tail$i"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("scoredout", StructType(docSchema.fields :+
        StructField("dsir_logweight", DoubleType)))
      // fit the importance model on a historical sample whose target
      // slice is the even-id (alpha-vocab) half, and persist it
      val l = new java.util.ArrayList[Row]()
      (0L until 40L).foreach(i => l.add(Row(i, docText(i))))
      val rawDf = spark.createDataFrame(l, docSchema)
      val model = graft.llm.Selection.dsirFit(rawDf,
        rawDf.filter(col("id") % 2 === 0), buckets = 64)
      m.createTable("model", model.schema).insert(model)
    }
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-dsirck").toString
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("raw")
      val l = new java.util.ArrayList[Row]()
      (100 until 110).foreach(i => l.add(Row(i.toLong, docText(i.toLong))))
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    val q = spark.readStream.format("graft").load(tdir)
      .drop("_row_id")
      .writeStream.format("graft")
      .option("root", root).option("bucket", "bk")
      .option("schema", "m").option("table", "scoredout")
      .option("scoreWith", "bk.m.model")
      .option("scoreTextCol", "text")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    s.transaction { tx =>
      val out = tx.bucket("bk").schema("m").table("scoredout")
        .select(Seq("id", "text", "dsir_logweight")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(out.length == 10)
      // target-vocab (even) UNSEEN docs outweigh off-target ones
      val evenMin = out.collect { case (i, _, w) if i % 2 == 0 => w }.min
      val oddMax = out.collect { case (i, _, w) if i % 2 == 1 => w }.max
      assert(evenMin > oddMax,
        s"target-like min $evenMin should exceed off-target max $oddMax")
      // ingest-time score equals the batch scoring path exactly
      val mdf = tx.bucket("bk").schema("m").table("model").select()
      val mismatch = graft.llm.Selection.dsirScoreFromModel(
          tx.bucket("bk").schema("m").table("scoredout")
            .select(Seq("id", "text", "dsir_logweight"))
            .withColumnRenamed("dsir_logweight", "ingest_w"),
          mdf)
        .filter(col("ingest_w") =!= col("dsir_logweight")).count()
      assert(mismatch == 0, "ingest score must equal the batch LUT fold")
    }
  }

  test("sink scoreWith: a refit between batches takes effect on the next batch") {
    val root = Files.createTempDirectory("graft-sink-refit").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def writeModel(bias: Double): Unit = s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val model = graft.llm.Classifier.LrModel(
        new Array[Double](8), bias, Array(0.0))
      val df = graft.llm.Classifier.modelToDf(spark, model)
      if (m.tables.contains("model")) m.table("model").overwrite(df)
      else m.createTable("model", df.schema).insert(df)
    }
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("scored", StructType(docSchema.fields :+
        StructField("quality_score", DoubleType)))
    }
    writeModel(bias = 0.0) // zero weights + bias 0 -> score exactly 0.5
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    val ckpt = Files.createTempDirectory("graft-sink-refitck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(tdir)
        .drop("_row_id")
        .writeStream.format("graft")
        .option("root", root).option("bucket", "bk")
        .option("schema", "m").option("table", "scored")
        .option("scoreWith", "bk.m.model")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def insertRaw(ids: Range): Unit = s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("raw")
      val l = new java.util.ArrayList[Row]()
      ids.foreach(i => l.add(Row(i.toLong, s"doc $i")))
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    insertRaw(0 until 5)
    drain()
    writeModel(bias = 4.0) // refit: sigmoid(4)
    insertRaw(5 until 10)
    drain()
    s.transaction { tx =>
      val out = tx.bucket("bk").schema("m").table("scored")
        .select(Seq("id", "quality_score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.size == 10)
      (0 until 5).foreach(i => assert(out(i.toLong) == 0.5,
        s"batch-1 rows must carry the OLD model's score, got ${out(i.toLong)}"))
      val expectNew = 1.0 / (1.0 + math.exp(-4.0))
      (5 until 10).foreach(i => assert(out(i.toLong) == expectNew,
        s"batch-2 rows must carry the refit score, got ${out(i.toLong)}"))
    }
  }
  test("sink scoreWith: a softmax model table scores class + confidence on ingest") {
    val root = Files.createTempDirectory("graft-sink-smscore").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    def docText(i: Long): String =
      if (i % 2 == 0) "alphamarker alphamarker alphamarker doc" + i
      else "betamarker betamarker betamarker doc" + i
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      m.createTable("raw", docSchema)
      m.createTable("classed", StructType(docSchema.fields ++ Seq(
        StructField("predicted_class", IntegerType),
        StructField("confidence", DoubleType))))
      val l = new java.util.ArrayList[Row]()
      (0L until 40L).foreach(i => l.add(Row(i, docText(i))))
      val sample = spark.createDataFrame(l, docSchema)
        .withColumn("y", (col("id") % 2).cast("double"))
        .withColumn("x", graft.llm.TextAnalysis.hashEmbedding(col("text"), 16))
      val model = graft.llm.Classifier.softmaxFit(sample, "y", "x",
        dim = 16, numClasses = 2, iters = 6)
      val mdf = graft.llm.Classifier.softmaxModelToDf(spark, model)
      m.createTable("smodel", mdf.schema).insert(mdf)
    }
    val tdir = Paths.get(root, "bk", "m", "raw").toString
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("raw")
      val l = new java.util.ArrayList[Row]()
      (100 until 120).foreach(i => l.add(Row(i.toLong, docText(i.toLong))))
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    val q = spark.readStream.format("graft").load(tdir)
      .drop("_row_id")
      .writeStream.format("graft")
      .option("root", root).option("bucket", "bk")
      .option("schema", "m").option("table", "classed")
      .option("scoreWith", "bk.m.smodel")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sink-smck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    s.transaction { tx =>
      val out = tx.bucket("bk").schema("m").table("classed")
        .select(Seq("id", "predicted_class", "confidence")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(out.length == 20)
      out.foreach { case (id, cls, conf) =>
        assert(cls == (id % 2).toInt, s"doc $id classed $cls")
        assert(conf > 0.5 && conf <= 1.0, s"doc $id confidence $conf")
      }
    }
  }

  /** `lo + j, "r<tag>-j"` for j < n, one file, under column names `names`. */
  private def insertRows(s: VastSession, lo: Long, n: Int, tag: Int,
                         names: (String, String) = ("a", "s")): Unit =
    s.transaction { tx =>
      val l = new java.util.ArrayList[Row]()
      (0 until n).foreach(j => l.add(Row(lo + j, s"r$tag-$j")))
      tx.bucket("bk").schema("m").table("t").insert(spark.createDataFrame(l,
        StructType(Seq(StructField(names._1, LongType),
          StructField(names._2, StringType)))).coalesce(1))
    }

  /** The files behind every planned input partition of `plan`'s scans. */
  private def plannedFiles(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions
      case b: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec =>
        b.inputPartitions
    }.flatten.flatMap {
      case p: org.apache.spark.sql.graftglue.GroupPartition => p.inner match {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString).toSeq
        case other => Seq(other.toString)
      }
      case other => Seq(other.toString)
    }

  private val wantRows = (2000L until 2010L) ++ (3000L until 3010L) :+ 4000L

  test("a filtered changefeed batch plans only the files that can match") {
    val root = Files.createTempDirectory("graft-feed-plan").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    // four single-file commits over disjoint ranges of a, a lazy rename of
    // a to k, one more file: 5 files in 2 rename groups, 2 of them k < 2000
    (0 until 4).foreach(i => insertRows(s, i * 1000L, 10, i))
    s.transaction(_.bucket("bk").schema("m").table("t").renameColumn("a", "k"))
    insertRows(s, 4000L, 1, 4, ("k", "s"))
    val feed = spark.read.format("graft").option("startingVersion", "earliest")
      .load(Paths.get(root, "bk", "m", "t").toString).where(col("k") >= 2000)
    val got = feed.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == wantRows, s"wrong rows: $got")
    val files = plannedFiles(feed.queryExecution.executedPlan)
    assert(files.size == 3, s"planned ${files.size} of 5 files: $files")
  }

  test("a micro-batch that crosses a rename plans only the files that can match") {
    val root = Files.createTempDirectory("graft-feed-plan-rn").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m").createTable("t", schema))
    insertRows(s, 0L, 10, 0)
    val tdir = Paths.get(root, "bk", "m", "t").toString
    val ckpt = Files.createTempDirectory("graft-feed-plan-ck").toString
    val out = Files.createTempDirectory("graft-feed-plan-out").toString + "/sink"
    // pinned to (a, s) here; both queries below run this same frame, so
    // the second one's batch reads the pinned name across the rename
    val df = spark.readStream.format("graft").load(tdir).where(col("a") >= 2000)
    def drain() = {
      val q = df.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q
    }
    drain()
    insertRows(s, 1000L, 10, 1)
    insertRows(s, 2000L, 10, 2)
    s.transaction(_.bucket("bk").schema("m").table("t").renameColumn("a", "k"))
    insertRows(s, 3000L, 10, 3, ("k", "s"))
    insertRows(s, 4000L, 1, 4, ("k", "s"))
    // one micro-batch over the 4 new files: 2 written as a, 2 as k
    val q = drain()
    val last = q.recentProgress.filter(_.numInputRows > 0)
    assert(last.length == 1, s"expected one data batch, got ${last.length}")
    val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery.lastExecution
    val files = plannedFiles(exec.executedPlan)
    assert(files.size == 3, s"planned ${files.size} of 4 files: $files")
    val got = spark.read.parquet(out).select("a").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == wantRows, s"wrong rows: $got")
  }
}
