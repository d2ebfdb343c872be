package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.types.TypeMapping.RowIdColumn

/**
 * Catalog/transaction/DML end-to-end, mirroring the reference's own test
 * strategy (SURVEY §5): round-trip equality, select-then-mutate, rollback
 * restores, commit conflict, rename isolation.
 */
class CatalogSpec extends SparkSpec {

  private def freshSession(): VastSession = {
    val root = Files.createTempDirectory("graft-cat").toString
    VastSession(spark, root)
  }

  /** Reference fixture F1: 3-column table, ids 0..2 on first insert
    * (vastdb/tests/test_tables.py:41-54, tests/util.py:175-180). */
  private val f1Schema = StructType(Seq(
    StructField("a", LongType), StructField("b", FloatType),
    StructField("s", StringType)))
  private def f1Data = {
    spark.createDataFrame(
      java.util.List.of(Row(111L, 0.5f, "a"), Row(222L, 1.5f, "bb"),
        Row(333L, 2.5f, "ccc")), f1Schema)
  }

  test("create/insert/round-trip with contiguous row ids") {
    val s = freshSession()
    s.createBucket("tpch")
    s.transaction { tx =>
      val sc = tx.bucket("tpch").createSchema("main")
      val t = sc.createTable("t1", f1Schema)
      val (lo, hi) = t.insert(f1Data)
      assert(lo == 0 && hi == 3)
      val got = t.select(internalRowId = true).orderBy(RowIdColumn).collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
      assert(got.map(_.getLong(1)).toSeq == Seq(111L, 222L, 333L))
      // second insert continues the id sequence
      val (lo2, hi2) = t.insert(f1Data)
      assert(lo2 == 3 && hi2 == 6)
    }
  }

  test("predicate + projection select") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      val got = t.select(Seq("s"), col("a") > 111L).orderBy("s").collect()
      assert(got.map(_.getString(0)).toSeq == Seq("bb", "ccc"))
    }
  }

  test("update and delete by row id (copy-on-write)") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      // select-then-mutate (reference pattern, tests/test_tables.py:71-89)
      val victims = t.select(Seq("a"), col("a") === 222L, internalRowId = true)
        .select(RowIdColumn)
      t.delete(victims)
      assert(t.select().count() == 2)
      val upd = t.select(Seq("a"), col("a") === 111L, internalRowId = true)
        .select(col(RowIdColumn), lit(9.5f).as("b"))
      t.update(upd)
      val got = t.select().orderBy("a").collect()
      assert(got.map(_.getFloat(1)).toSeq == Seq(9.5f, 2.5f))
      // update without _row_id rejected (errors.py:121 analog)
      intercept[MissingRowIdColumn] { t.update(t.select(Seq("a"))) }
      // predicate-addressed forms package select-then-mutate
      t.updateWhere(col("a") === 333L, Map("b" -> lit(7.5f)))
      assert(t.select(Seq("b"), col("a") === 333L).collect()
        .map(_.getFloat(0)).toSeq == Seq(7.5f))
      t.deleteWhere(col("a") === 333L)
      assert(t.select().count() == 1)
    }
  }

  test("rollback restores; commit makes visible; conflict on concurrent commit") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      tx.bucket("b").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    // rollback: insert in failing tx leaves table unchanged
    intercept[RuntimeException] {
      s.transaction { tx =>
        tx.bucket("b").schema("m").table("t").insert(f1Data)
        throw new RuntimeException("boom")
      }
    }
    s.transaction { tx =>
      assert(tx.bucket("b").schema("m").table("t").select().count() == 3)
    }
    // write-write conflict: two txs insert against the same base version
    val tx1 = s.beginTransaction()
    val tx2 = s.beginTransaction()
    tx1.bucket("b").schema("m").table("t").insert(f1Data)
    tx2.bucket("b").schema("m").table("t").insert(f1Data)
    tx1.commit()
    intercept[Conflict] { tx2.commit() }
  }

  test("schema evolution: add, rename (lazy, no rewrite), drop") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      t.addColumn(StructField("extra", IntegerType))
      assert(t.select().columns.contains("extra"))
      assert(t.select().filter(col("extra").isNull).count() == 3)
      t.renameColumn("a", "a2")
      val got = t.select(Seq("a2", "s")).orderBy("a2").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(111L, 222L, 333L))
      t.dropColumn("b")
      assert(!t.select().columns.contains("b"))
      // new insert after rename mixes file generations correctly
      val newData = spark.createDataFrame(
        java.util.List.of(Row(444L, "dddd", 7)),
        StructType(Seq(StructField("a2", LongType), StructField("s", StringType),
          StructField("extra", IntegerType))))
      t.insert(newData)
      assert(t.select(Seq("a2")).orderBy("a2").collect().map(_.getLong(0)).toSeq
        == Seq(111L, 222L, 333L, 444L))
    }
  }

  test("DDL invisible to a concurrent transaction until commit") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      tx.bucket("b").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    val tx1 = s.beginTransaction()
    val tx2 = s.beginTransaction()
    tx1.bucket("b").schema("m").table("t").renameColumn("a", "zz")
    // tx2 still sees the old schema (its manifest is pinned)
    assert(tx2.bucket("b").schema("m").table("t").schema.fieldNames.contains("a"))
    tx1.commit()
    tx2.rollback()
    s.transaction { tx =>
      assert(tx.bucket("b").schema("m").table("t").schema.fieldNames.contains("zz"))
    }
  }

  test("snapshots are point-in-time read views") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      tx.bucket("b").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    s.transaction { tx => tx.bucket("b").createSnapshot("snap1") }
    s.transaction { tx =>
      tx.bucket("b").schema("m").table("t").insert(f1Data)
    }
    s.transaction { tx =>
      assert(tx.bucket("b").schema("m").table("t").select().count() == 6)
      val snap = tx.bucket("b").snapshot("snap1")
      assert(snap.schema("m").table("t").select().count() == 3)
      assert(tx.bucket("b").snapshots == Seq("snap1"))
    }
  }

  test("sorted table: score progresses to done after optimizeSort") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      t.addSortingKey(Seq("a"))
      assert(t.stats.sortingScore == 0.0 && !t.stats.sortingDone)
      t.optimizeSort()
      assert(t.stats.sortingScore == 1.0 && t.stats.sortingDone)
      assert(t.select().orderBy("a").count() == 3)
    }
  }

  test("zone-map pruning drops files outside the predicate range on sorted tables") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.addSortingKey(Seq("a"))
      // three disjoint ranges of `a`, inserted as separate file batches
      def batch(lo: Long): Unit = {
        val rows = (lo until lo + 10).map(i => Row(i, i.toFloat, s"r$i"))
        val l = new java.util.ArrayList[Row](); rows.foreach(l.add)
        t.insert(spark.createDataFrame(l, f1Schema))
      }
      // each small local batch is one file; the [400, 409] file lies outside
      // every envelope checked below, so each check has a file to prune
      batch(0); batch(100); batch(200); batch(400)
      val all = t.manifest.files
      assert(all.forall(_.colStats.contains("a")))
      val pruned = Table.pruneByZoneMaps(all, col("a") >= 100L && col("a") < 110L)
      assert(pruned.size < all.size, s"no pruning: ${all.size} files kept")
      // results identical to the unpruned scan
      assert(t.select(Seq("a"), col("a") >= 100L && col("a") < 110L).count() == 10)
      // equality constraint prunes to a single range
      assert(Table.pruneByZoneMaps(all, col("a") === 205L).size < all.size)
      // OR-group / IN-list envelopes (the reference's AND-of-OR-groups
      // grammar): each collapses to [lo, hi]; every file fully outside the
      // envelope must be pruned, none inside may be
      def span(f: Manifest.FileEntry): (Long, Long) =
        (f.colStats("a").min.toLong, f.colStats("a").max.toLong)
      def check(pred: org.apache.spark.sql.Column, lo: Long, hi: Long): Unit = {
        val kept = Table.pruneByZoneMaps(all, pred)
        assert(kept.size < all.size, s"no envelope pruning for $pred")
        assert(kept.forall { f => val (mn, mx) = span(f); mx >= lo && mn <= hi },
          s"kept an out-of-envelope file for $pred")
        assert(all.filter { f => val (mn, mx) = span(f); mx >= lo && mn <= hi }
          .forall(kept.contains), s"over-pruned for $pred")
      }
      check(col("a") === 3L || col("a") === 105L, 3L, 105L)
      check(col("a").isin(101L, 104L, 108L), 101L, 108L)
      check(col("a").between(0L, 5L) || col("a").between(200L, 205L), 0L, 205L)
      // results stay exact through the envelope-pruned scan
      assert(t.select(Seq("a"), col("a").isin(101L, 108L, 300L)).count() == 2)
      // different-column OR must NOT prune (no common envelope)
      assert(Table.pruneByZoneMaps(all,
        col("a") === 3L || col("b") > 1000f).size == all.size)
    }
  }

  test("projection picker serves covered scans") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      t.createProjection("p1", Seq("a", "s"), Seq("a"))
      assert(t.projections.map(_.name) == Seq("p1"))
      // covered: must read from the projection directory
      val covered = t.select(Seq("s"), col("a") === 222L)
      val plan = covered.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("_proj"), s"expected projection scan in:\n$plan")
      assert(covered.collect().map(_.getString(0)).toSeq == Seq("bb"))
      // not covered (needs b): must fall back to base files
      val uncovered = t.select(Seq("b"), col("a") === 222L)
      assert(!uncovered.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).contains("_proj"))
      // disabled via config (reference use_semi_sorted_projections=False)
      val off = t.select(Seq("s"), col("a") === 222L,
        config = QueryConfig(useSemiSortedProjections = false))
      assert(!off.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).contains("_proj"))
    }
  }

  test("imports: schema merge + imports side table") {
    val s = freshSession()
    s.createBucket("b")
    val ext = Files.createTempDirectory("ext").toString
    f1Data.write.parquet(s"$ext/f1")
    f1Data.write.parquet(s"$ext/f2")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.importFiles(Seq(s"$ext/f1", s"$ext/f2"))
      assert(t.select().count() == 6)
      val imp = t.importsTable().select()
      assert(imp.count() == 2)
      assert(imp.select("object_name").collect().map(_.getString(0)).toSet
        == Set(s"$ext/f1", s"$ext/f2"))
    }
  }

  test("blob expansion maintains the side table on insert") {
    val s = freshSession()
    s.createBucket("b")
    val schemaB = StructType(Seq(StructField("id", LongType),
      StructField("blob", StringType)))
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("m")
      val t = sc.createTable("t", schemaB)
      t.createBlobExpansion("blob", "k INT, v STRING")
      val data = spark.createDataFrame(java.util.List.of(
        Row(1L, """{"k": 5, "v": "x"}"""),
        Row(2L, """{"k": 6}"""),                     // missing v
        Row(3L, """{"k": 7, "v": "y", "zz": 1}""")), // excessive zz
        schemaB)
      t.insert(data)
      val exp = sc.table("t__expanded_blob").select().orderBy("k").collect()
      assert(exp.length == 3)
      assert(exp.map(_.getAs[Int]("k")).toSeq == Seq(5, 6, 7))
      assert(exp.map(_.getAs[Boolean]("missing_values")).toSeq
        == Seq(false, true, false))
      assert(exp.map(_.getAs[Boolean]("excessive_values")).toSeq
        == Seq(false, false, true))
    }
  }

  test("blob expansion alter adds fields; drop removes target") {
    val s = freshSession()
    s.createBucket("b")
    val schemaB = StructType(Seq(StructField("id", LongType),
      StructField("blob", StringType)))
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("m")
      val t = sc.createTable("t", schemaB)
      t.createBlobExpansion("blob", "k INT")
      t.insert(spark.createDataFrame(
        java.util.List.of(Row(1L, """{"k": 5, "v": "x"}""")), schemaB))
      t.alterBlobExpansion("blob", "k INT, v STRING")
      t.insert(spark.createDataFrame(
        java.util.List.of(Row(2L, """{"k": 6, "v": "y"}""")), schemaB))
      val exp = sc.table("t__expanded_blob").select().orderBy("k")
      assert(exp.columns.contains("v"))
      val vs = exp.collect().map(r => Option(r.getAs[String]("v")))
      assert(vs.toSeq == Seq(None, Some("y"))) // old row null-backfilled
      t.dropBlobExpansion("blob")
      assert(t.blobExpansions.isEmpty)
    }
  }

  test("scan limit and projection stats") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      assert(t.select(config = QueryConfig(limitRows = Some(2L))).count() == 2)
      t.createProjection("p", Seq("a"), Seq("a"))
      val ps = t.projectionStats("p")
      assert(ps.numRows == 3 && ps.sizeBytes > 0)
    }
  }

  test("vector index + vectorSearch top-k") {
    val s = freshSession()
    s.createBucket("b")
    val vs = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", vs)
      intercept[NotSupportedCommand] { t.createVectorIndex("v", "cosine") }
      t.createVectorIndex("v", "l2sq")
      val rows = (0 until 50).map(i =>
        Row(i.toLong, Array(i.toFloat, (i % 7).toFloat)))
      t.insert(spark.createDataFrame(rows.asInstanceOf[Seq[Row]].asJava, vs))
      val res = t.vectorSearch("v", Seq(10f, 3f), k = 3)
      assert(res.select("id").collect().map(_.getLong(0)).head == 10L)
      assert(res.count() == 3)
    }
  }

  test("catalog and audit log are queryable") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      tx.bucket("b").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    s.transaction { tx =>
      val cat = tx.catalog()
      assert(cat.filter(col("table") === "t").count() == 1)
      assert(cat.columns.toSet ==
        Set("bucket", "schema", "table", "version", "num_rows", "num_files"))
      val log = tx.auditLog()
      // the PINNED audit contract: exact (ts, tx, op, table, rows) shape
      assert(log.schema == graft.api.VastSession.AuditSchema)
      assert(log.filter(col("op") === "insert").count() >= 1)
      assert(log.filter(col("op") === "commit").select("tx").head.get(0) != null)
      assert(log.filter(col("ts").isNull).count() == 0)
    }
  }

  test("registerViews exposes tables to spark.sql at the tx snapshot") {
    val s = freshSession()
    s.createBucket("bk")
    s.transaction { tx =>
      tx.bucket("bk").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    s.transaction { tx =>
      val views = tx.registerViews()
      assert(views.contains("bk_m_t"))
      val got = spark.sql("SELECT s FROM bk_m_t WHERE a >= 222 ORDER BY s")
        .collect().map(_.getString(0))
      assert(got.toSeq == Seq("bb", "ccc"))
    }
  }

  test("soft-fail variants, reload, sortedColumns, createTableFromFiles") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val b = tx.bucket("b")
      val m1 = b.createSchema("m")
      assert(b.createSchema("m", failIfExists = false).dir == m1.dir)
      intercept[SchemaExists] { b.createSchema("m") }
      assert(b.schemaOption("nope").isEmpty)
      val t1 = m1.createTable("t", f1Schema)
      assert(m1.createTable("t", f1Schema, failIfExists = false).dir == t1.dir)
      assert(m1.tableOption("nope").isEmpty)
      t1.addSortingKey(Seq("a"))
      assert(t1.sortedColumns.map(_.name) == Seq("a"))
      // bulk-load helper: infer schema from footers, create, import
      val dir = Files.createTempDirectory("ctff")
      spark.createDataFrame(java.util.List.of(Row(1L, 0.5f, "x")), f1Schema)
        .write.parquet(dir.toString + "/f1")
      val imported = m1.createTableFromFiles("bulk",
        Seq(dir.toString + "/f1"))
      assert(imported.select().count() == 1)
      assert(imported.schema.fieldNames.toSeq == f1Schema.fieldNames.toSeq)
    }
    // reload breaks the repeatable-read pin to see a concurrent commit
    val txA = s.beginTransaction()
    assert(txA.isActive)
    val tA = txA.bucket("b").schema("m").table("t")
    assert(tA.select().count() == 0) // pins v-current
    s.transaction(tx => tx.bucket("b").schema("m").table("t").insert(f1Data))
    assert(tA.select().count() == 0) // still pinned
    tA.reload()
    assert(tA.select().count() == 3) // sees the concurrent commit
    txA.rollback()
    assert(!txA.isActive)
  }

  test("schema and column listings paginate") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val b = tx.bucket("b")
      Seq("alpha", "beta", "gamma").foreach(b.createSchema)
      val (page1, next1) = b.schema("alpha").bucket.listSchemas(maxKeys = 2)
      assert(page1 == Seq("alpha", "beta") && next1.contains("beta"))
      val (page2, next2) = b.listSchemas(startAfter = next1.get, maxKeys = 2)
      assert(page2 == Seq("gamma") && next2.isEmpty)
      val t = b.schema("alpha").createTable("t", f1Schema)
      val (cols, nextC) = t.listColumns(maxKeys = 2)
      assert(cols.map(_._1) == Seq("a", "b") && nextC.contains("b"))
      val (cols2, nextC2) = t.listColumns(startAfter = "b")
      assert(cols2 == Seq(("s", "STRING")) && nextC2.isEmpty)
    }
  }

  test("listings paginate with prefix filters") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("m")
      (1 to 5).foreach(i => sc.createTable(s"tab$i", f1Schema))
      sc.createTable("other", f1Schema)
      val (page1, next) = sc.listTables(prefix = "tab", maxKeys = 3)
      assert(page1 == Seq("tab1", "tab2", "tab3") && next.contains("tab3"))
      val (page2, next2) = sc.listTables(prefix = "tab", startAfter = "tab3", maxKeys = 3)
      assert(page2 == Seq("tab4", "tab5") && next2.isEmpty)
    }
  }

  test("nested schemas and estimateRowCount") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("a")
      val sub = sc.createSubSchema("b1")
      val t = sub.createTable("t", f1Schema)
      t.insert(f1Data)
      assert(tx.bucket("b").schema("a/b1").table("t").select().count() == 3)
      assert(tx.bucket("b").schemas.contains("a/b1"))
      // estimate is sampling-based; exact stats come from the manifest
      assert(t.stats.numRows == 3)
    }
  }

  test("external row ids honored; allocation resumes past them") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      val withIds = f1Data.withColumn(RowIdColumn,
        col("a") * 10) // 1110, 2220, 3330
      val (lo, hi) = t.insert(withIds)
      assert(lo == 1110L && hi == 3331L)
      // auto-allocation continues past the external max
      val (lo2, _) = t.insert(f1Data)
      assert(lo2 == 3331L)
      assert(t.select(internalRowId = true)
        .select(RowIdColumn).distinct().count() == 6)
    }
  }

  test("time travel: selectAt reads any retained version") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      tx.bucket("b").createSchema("m").createTable("t", f1Schema).insert(f1Data)
    }
    s.transaction { tx =>
      tx.bucket("b").schema("m").table("t").insert(f1Data)
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      assert(t.select().count() == 6)
      assert(t.selectAt(1).count() == 3)
      assert(t.selectAt(0).count() == 0)
      intercept[MissingTable] { t.selectAt(99) }
    }
  }

  test("time travel plans files: selectAt opens only the matching file") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m").createTable("t", f1Schema))
    // one file per commit, disjoint ranges of `a`: v1..v4
    for (lo <- Seq(0L, 100L, 200L, 300L)) s.transaction { tx =>
      val l = new java.util.ArrayList[Row]()
      (lo until lo + 10).foreach(i => l.add(Row(i, i.toFloat, s"r$i")))
      tx.bucket("b").schema("m").table("t").insert(spark.createDataFrame(l, f1Schema))
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(205L, 0f, "late")), f1Schema))
      val v3 = 3L
      val df = t.selectAt(v3, Seq("s"), col("a") === 205L)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("r205"))
      val file = t.manifest.files.filter(_.colStats("a").min == "200")
      assert(file.size == 1)
      assert(df.inputFiles.toSeq.map(f => new java.net.URI(f).getPath) ==
        Seq(Table.resolvePath(t.dir, file.head.path)),
        s"selectAt read ${df.inputFiles.toSeq}")
    }
  }

  test("compaction merges small files, preserves rows and ids") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      (1 to 5).foreach(_ => t.insert(f1Data)) // 5 small file batches
      val before = t.manifest.files.size
      t.compact(targetRows = 1000L)
      assert(t.manifest.files.size < before)
      val got = t.select(internalRowId = true)
      assert(got.count() == 15)
      assert(got.select(types.TypeMapping.RowIdColumn).distinct().count() == 15)
    }
  }

  test("compaction keeps row-id clustering: disjoint ranges, narrow update rewrites one file") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m")
        .createTable("t", StructType(Seq(StructField("a", LongType))))
      // a = _row_id; 4 small files, one big file, 4 more small files
      def batch(lo: Long, n: Long) = t.insert(spark.range(lo, lo + n, 1, 1).toDF("a"))
      (0 until 4).foreach(i => batch(i * 100L, 100L))
      batch(400L, 500L)
      (0 until 4).foreach(i => batch(900L + i * 100L, 100L))
      t.compact(targetRows = 200L)
      val files = t.manifest.files.sortBy(_.minRowId)
      assert(files.size == 5, files.map(f => (f.minRowId, f.maxRowId, f.rows)))
      files.sliding(2).foreach { case Seq(x, y) =>
        assert(x.maxRowId < y.minRowId, s"overlapping files after compaction: $files")
      }
      assert(files.map(_.rows).sum == 1300L)
      assert(t.select().agg(sum("a")).head().getLong(0) == (0L until 1300L).sum)
      val before = t.manifest.files.map(_.path).toSet
      t.updateWhere(col("a").between(250L, 260L), Map("a" -> (col("a") + 0L)))
      assert((before -- t.manifest.files.map(_.path)).size == 1,
        "a narrow update rewrote more than one compacted file")
    }
  }

  test("a commit that fails on I/O leaves no orphan manifest behind") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("m")
      sc.createTable("t1", f1Schema); sc.createTable("t2", f1Schema)
    }
    val tx = s.beginTransaction()
    val t1 = tx.bucket("b").schema("m").table("t1")
    val t2 = tx.bucket("b").schema("m").table("t2")
    t1.insert(f1Data); t2.insert(f1Data) // t1's manifest is written first
    // t2's manifest dir turns into a plain file: its phase-1 write fails
    // with an I/O error, not a Conflict, after t1's manifest is written
    val mdir = t2.dir.resolve("_manifest")
    val aside = Files.createTempDirectory("graft-aside").resolve("_manifest")
    Files.move(mdir, aside)
    Files.write(mdir, Array.emptyByteArray)
    val e = intercept[Exception](tx.commit())
    assert(!e.isInstanceOf[Conflict], e)
    Files.delete(mdir); Files.move(aside, mdir)
    assert(!tx.isActive)
    // both tables take their next commit, and the failed one left no rows
    s.transaction { tx2 =>
      tx2.bucket("b").schema("m").table("t1").insert(f1Data)
      tx2.bucket("b").schema("m").table("t2").insert(f1Data)
    }
    s.transaction { tx3 =>
      Seq("t1", "t2").foreach(n =>
        assert(tx3.bucket("b").schema("m").table(n).select().count() == 3))
    }
  }

  test("csv and json import formats") {
    val s = freshSession()
    s.createBucket("b")
    val ext = Files.createTempDirectory("ext2").toString
    f1Data.write.option("header", "true").csv(s"$ext/c")
    f1Data.write.json(s"$ext/j")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.importFiles(Seq(s"$ext/c"), format = "csv")
      t.importFiles(Seq(s"$ext/j"), format = "json")
      assert(t.select().count() == 6)
      assert(t.select(Seq("a"), col("a") === 111L).count() == 2)
    }
  }

  test("parallel transactions on distinct tables commit independently") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val sc = tx.bucket("b").createSchema("m")
      (0 until 4).foreach(i => sc.createTable(s"t$i", f1Schema))
    }
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = (0 until 4).map { i =>
      Future {
        s.transaction { tx =>
          tx.bucket("b").schema("m").table(s"t$i").insert(f1Data)
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    s.transaction { tx =>
      (0 until 4).foreach { i =>
        assert(tx.bucket("b").schema("m").table(s"t$i").select().count() == 3)
      }
    }
  }

  test("rowsPerSplit shapes scan partitions without leaking session conf") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", StructType(Seq(
        StructField("id", LongType), StructField("pad", StringType))))
      import spark.implicits._
      t.insert(spark.range(200000)
        .select(col("id"), lpad(col("id").cast("string"), 64, "x").as("pad")))
      val before = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      val base = t.select(Seq("id")).rdd.getNumPartitions
      val shaped = t.select(Seq("id"),
        config = QueryConfig(rowsPerSplit = 100)).rdd.getNumPartitions
      // smaller split target => strictly more file partitions ...
      assert(shaped > base, s"rowsPerSplit ignored: $shaped vs $base")
      // ... and the caller's session conf is untouched (scan-scoped clone)
      assert(spark.conf.getOption("spark.sql.files.maxPartitionBytes") == before)
      // queryId threads into the Spark job group (reference query_id analog)
      tx.bucket("b").schema("m").table("t")
        .select(Seq("id"), config = QueryConfig(queryId = Some("q-777")))
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == "q-777")
      spark.sparkContext.clearJobGroup()
    }
  }

  test("selectSplits: disjoint row-id ranges covering the whole table") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data); t.insert(f1Data) // 6 rows, ids 0..5
      val splits = t.selectSplits(3, columns = Seq("a"))
      val perSplit = splits.map(_.count())
      assert(perSplit.sum == 6, s"splits lost/duplicated rows: $perSplit")
      val allIds = splits.map(_.select(RowIdColumn))
        .reduce(_ union _).distinct().count()
      assert(allIds == 6) // distinct == total => ranges are disjoint
    }
  }

  test("projection rename (alter) and table properties") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      // type-mapping tag written at create (COVERAGE row-id design delta)
      assert(t.properties.get("graft.rowid.type").contains("int64"))
      t.setProperties(Map("owner" -> "pipeline-a"))
      assert(t.properties("owner") == "pipeline-a")
      t.createProjection("p1", Seq("a", "s"), Seq("a"))
      t.renameProjection("p1", "p2")
      assert(t.projections.map(_.name) == Seq("p2"))
      intercept[NotSupportedCommand] { t.renameProjection("nope", "x") }
      // picker still serves the renamed projection by its new name
      val df = t.select(Seq("a"), config =
        QueryConfig(semiSortedProjectionName = Some("p2")))
      assert(df.count() == 3)
    }
  }

  test("re-adding a dropped column null-fills old files, never resurrects") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data) // old files physically contain float column b
      t.dropColumn("b")
      // re-add same name, DIFFERENT type: old float bytes must not be read
      t.addColumn(StructField("b", StringType))
      val got = t.select(Seq("a", "b")).orderBy("a").collect()
      assert(got.map(_.isNullAt(1)).forall(identity),
        s"dropped values resurrected: ${got.mkString(",")}")
      // new inserts land in the new column normally (schema is now a, s, b)
      val rows = new java.util.ArrayList[Row]()
      rows.add(Row(999L, "s999", "new"))
      t.insert(spark.createDataFrame(rows, t.schema))
      assert(t.select(Seq("b"), col("a") === 999L).collect()
        .map(_.getString(0)).toSeq == Seq("new"))
    }
  }

  test("zero-row inserts are no-ops; reload with staged writes refused") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      val (lo, hi) = t.insert(f1Data.filter(col("a") > 99999L)) // empty
      assert(lo == hi && t.select().count() == 0)
      // empty batch WITH explicit row ids too
      val (lo2, hi2) = t.insert(
        t.select(internalRowId = true).filter(col("a") > 99999L))
      assert(lo2 == hi2)
      t.insert(f1Data)
      intercept[NotSupportedCommand] { t.reload() } // staged writes present
    }
    // reload without staged writes works (covered in the soft-fail test too)
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      assert(t.select().count() == 3)
    }
  }

  test("maintain never un-sorts a fully sorted table") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.addSortingKey(Seq("a"))
      t.insert(f1Data); t.insert(f1Data)
      t.optimizeSort()
      assert(t.stats.sortingDone)
      t.maintain() // must not compact sorted files into unsorted ones
      assert(t.stats.sortingDone, "maintain degraded the sorted state")
    }
  }

  test("dropColumn detaches vector indexes and blob expansions on it") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", StructType(Seq(
        StructField("id", LongType),
        StructField("v", ArrayType(FloatType)),
        StructField("blob", StringType))))
      t.createVectorIndex("v", "l2sq")
      t.createBlobExpansion("blob", "x BIGINT")
      t.dropColumn("v")
      t.dropColumn("blob")
      assert(t.manifest.vectorIndexes.isEmpty)
      assert(t.manifest.blobExpansions.isEmpty)
      // next insert must not try to parse the dropped blob column
      t.insert(spark.createDataFrame(java.util.List.of(Row(1L)),
        StructType(Seq(StructField("id", LongType)))))
      assert(t.select().count() == 1)
    }
  }

  test("vacuumPending spares live transactions, reaps crashed-process orphans") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction(tx => tx.bucket("b").createSchema("m"))
    // a crashed process: separate session begins a tx, creates a table,
    // never commits — this session has no record of it
    val crashed = VastSession(spark, s.root)
    crashed.beginTransaction().bucket("b").schema("m").createTable("orphan", f1Schema)
    // a live long-running tx IN THIS session with an uncommitted create
    val live = s.beginTransaction()
    live.bucket("b").schema("m").createTable("keepme", f1Schema)
    val reaped = s.vacuumPending(olderThanMillis = 0)
    assert(reaped.exists(_.endsWith("/orphan")), s"orphan not reaped: $reaped")
    assert(!reaped.exists(_.endsWith("/keepme")), "live tx's table was vacuumed")
    // the live tx can still commit and reveal its table
    live.commit()
    s.transaction { tx =>
      assert(tx.bucket("b").schema("m").tables.contains("keepme"))
      assert(!tx.bucket("b").schema("m").tables.contains("orphan"))
    }
  }

  test("commit raises Conflict when a staged table dir vanished") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction(tx => tx.bucket("b").createSchema("m")
      .createTable("t", f1Schema).insert(f1Data))
    val tx = s.beginTransaction()
    val t = tx.bucket("b").schema("m").table("t")
    t.insert(f1Data)
    Table.deleteRecursively(t.dir) // concurrent drop / over-eager vacuum
    intercept[Conflict] { tx.commit() }
  }

  test("rename into a nonexistent parent fails at phase 1 as a Conflict") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction(tx => tx.bucket("b").createSchema("m"))
    val tx = s.beginTransaction()
    tx.bucket("b").schema("m").renameSchema("nope/m2") // parent b/nope absent
    intercept[Conflict] { tx.commit() }
    // recoverable: nothing moved, original schema intact
    s.transaction(tx2 => assert(tx2.bucket("b").schemas.contains("m")))
  }

  test("TableMetadata handle re-binds across transactions without a manifest re-read") {
    val s = freshSession()
    s.createBucket("b")
    // tx1: create + insert; a handle over STAGED writes is refused (it
    // could outlive a rollback) — detach it from a later clean transaction
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t1", f1Schema)
      t.insert(f1Data)
      intercept[NotSupportedCommand] { t.metadata }
    }
    val md = s.transaction(tx => tx.bucket("b").schema("m").table("t1").metadata)
    assert(md.fullPath == "b/m/t1" && md.numRows == 3 && md.version >= 1)
    assert(md.schema.fieldNames.toSeq == Seq("a", "b", "s"))

    // tx2: re-bind through the handle — ZERO manifest reads (the whole
    // point: the reference re-binds a TableMetadata cheaply across
    // transactions; here the cached manifest seeds the tx pin)
    s.transaction { tx2 =>
      val before = Manifest.readCount.get()
      val t = tx2.tableFromMetadata(md)
      assert(t.select().count() == 3)
      assert(t.schema == md.schema)
      assert(Manifest.readCount.get() == before,
        "tableFromMetadata read a manifest — the handle's pin was not used")
    }

    // a concurrent commit advances the table; the handle still serves its
    // pinned version until load()
    s.transaction { tx =>
      tx.bucket("b").schema("m").table("t1")
        .insert(spark.createDataFrame(
          java.util.List.of(Row(444L, 3.5f, "dddd")), f1Schema))
    }
    s.transaction { tx3 =>
      assert(tx3.tableFromMetadata(md).select().count() == 3,
        "handle must serve its pinned version, not CURRENT")
    }
    val verBefore = md.version
    s.transaction(tx4 => md.load(tx4)) // explicit refresh re-reads CURRENT
    assert(md.version > verBefore && md.numRows == 4)
    s.transaction { tx5 =>
      assert(tx5.tableFromMetadata(md).select().count() == 4)
    }

    // a transaction's own pin beats the handle (repeatable read): touching
    // the table first pins CURRENT, and the later re-bind must not
    // override that pin
    s.transaction { tx6 =>
      assert(tx6.bucket("b").schema("m").table("t1").select().count() == 4)
      assert(tx6.tableFromMetadata(md).select().count() == 4)
    }

    // renamed() composes: same manifest, new name
    assert(md.renamed("t2").fullPath == "b/m/t2" &&
      md.renamed("t2").version == md.version)
  }

  test("changes(): exact row CDC, COW noise suppressed, evolution, vacuum horizon") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx => // v1: three rows, ONE file — the COW-noise probe
      tx.bucket("b").createSchema("m").createTable("t", f1Schema)
        .insert(f1Data.coalesce(1))
    }
    s.transaction { tx => // v2: update one row (rewrites the shared file)
      tx.bucket("b").schema("m").table("t")
        .updateWhere(col("a") === 222L, Map("s" -> lit("UPD")))
    }
    s.transaction { tx => // v3: add a column, insert a row carrying it
      tx.bucket("b").schema("m").table("t")
        .addColumn(StructField("extra", LongType))
    }
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("t")
      t.insert(spark.createDataFrame(
        java.util.List.of(Row(444L, 4.5f, "dddd", 9L)), t.schema).coalesce(1))
    }
    s.transaction { tx =>
      val ch = tx.bucket("b").schema("m").table("t").changes(1L)
        .collect().map(r => (r.getString(0), r.getLong(2))).sorted.toSeq
      // the 111/333 rows shared the rewritten file but did NOT change —
      // they must not appear; the update emits pre+post; the insert once
      assert(ch == Seq(("insert", 444L), ("update_postimage", 222L),
        ("update_preimage", 222L)), s"change set: $ch")
      val pre = tx.bucket("b").schema("m").table("t").changes(1L)
        .filter(col("_change_type") === "update_preimage").head()
      assert(pre.getAs[String]("s") == "bb", "preimage must be the v1 payload")
      assert(pre.isNullAt(pre.fieldIndex("extra")),
        "column added later must be null in the preimage")
      // empty range: no changes between a version and itself
      assert(tx.bucket("b").schema("m").table("t").changes(1L, 1L).isEmpty)
    }
    // vacuumed fromVersion = CDC horizon crossed → error, never silence
    s.transaction(tx => tx.bucket("b").schema("m").table("t")
      .vacuumVersions(keepLast = 1, minAgeMillis = 0L))
    s.transaction { tx =>
      intercept[MissingTable] {
        tx.bucket("b").schema("m").table("t").changes(1L)
      }
    }
  }

  test("catalogSnapshots lists snapshot buckets across the root") {
    val s = freshSession()
    s.createBucket("b1"); s.createBucket("b2")
    s.transaction { tx =>
      tx.bucket("b1").createSchema("m").createTable("t", f1Schema).insert(f1Data)
      tx.bucket("b2").createSchema("m").createTable("u", f1Schema).insert(f1Data)
    }
    s.transaction(tx => tx.bucket("b1").createSnapshot("s1"))
    s.transaction(tx => tx.bucket("b2").createSnapshot("s2"))
    s.transaction { tx =>
      val snaps = tx.catalogSnapshots()
      assert(snaps.map(_.name).sorted ==
        Seq("b1/.snapshot/s1", "b2/.snapshot/s2"))
      // each snapshot is a normal read view
      assert(snaps.head.schema("m").table("t").select().count() == 3)
    }
  }

  test("estimateRowCount: exhaustive probe reports exact zero, not 1") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data) // one file => probe covers everything
      assert(t.estimateRowCount(col("a") === 999999L) == 0L)
      assert(t.estimateRowCount(col("a") === 111L) == 1L)
    }
  }

  test("a failing update or delete releases its cached batch") {
    val s = freshSession()
    s.createBucket("b")
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", f1Schema)
      t.insert(f1Data)
      // the batch's first materialization (the count) throws
      val boom = udf((a: Long) => {
        if (a > 0) throw new IllegalStateException("boom"); a })
      val badUpdate = t.select(Nil, lit(true), internalRowId = true)
        .select(col(RowIdColumn), boom(col("a")).as("a"))
      intercept[Exception] { t.update(badUpdate) }
      assert(badUpdate.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "failed update left its batch cached")
      val badDelete = t.select(Nil, lit(true), internalRowId = true)
        .select(col(RowIdColumn), boom(col("a")).as("x"))
      intercept[Exception] { t.delete(badDelete) }
      assert(badDelete.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "failed delete left its batch cached")
      assert(t.select().count() == 3)
    }
  }

  private implicit class SeqRowOps(rows: Seq[Row]) {
    def asJava: java.util.List[Row] = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach(l.add)
      l
    }
  }
}
