package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api._

/** SQL addressing of catalog tables through the DataSource-V2 catalog. */
class SqlCatalogSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType)))

  test("SELECT through spark.sql(\"... FROM graft.bucket.schema.table\")") {
    val root = Files.createTempDirectory("graft-sqlcat").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(java.util.List.of(
        Row(1L, "one"), Row(2L, "two"), Row(3L, "three")), schema))
    }
    spark.conf.set("spark.sql.catalog.graft",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    val df = spark.sql("SELECT s, _row_id FROM graft.bk.m.t WHERE a >= 2 ORDER BY s")
    val got = df.collect()
    assert(got.map(_.getString(0)).toSeq == Seq("three", "two"))
    // predicate pushdown reaches the parquet scan through DSv2
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(a,2)"), s"no pushdown in:\n$plan")
    // catalog enumeration
    assert(spark.sql("SHOW TABLES IN graft.bk.m").collect()
      .map(_.getString(1)).contains("t"))
    // SQL INSERT lands through the transactional manifest commit (explicit
    // _row_id = the reference's external vastdb_rowid path)
    spark.sql("INSERT INTO graft.bk.m.t VALUES (9, 'nine', 9)")
    val after = spark.sql(
      "SELECT a, s, _row_id FROM graft.bk.m.t WHERE a = 9").collect()
    assert(after.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((9L, "nine", 9L)))
    // the API sees the SQL-inserted row under the same manifest version chain
    s.transaction { tx =>
      assert(tx.bucket("bk").schema("m").table("t").select().count() == 4)
    }
    // SQL time travel: VERSION AS OF addresses retained manifest versions
    assert(spark.sql(
      "SELECT count(*) FROM graft.bk.m.t VERSION AS OF 1").collect()
      .head.getLong(0) == 3) // before the SQL INSERT (which committed v2)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.bk.m.t VERSION AS OF 99").collect()
    }
    // covered SQL scans route to a fresh projection (picker in the SQL path)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t")
        .createProjection("pa", Seq("a"), Seq("a"))
    }
    val viaProj = spark.sql("SELECT a FROM graft.bk.m.t ORDER BY a")
    val projPlan = viaProj.queryExecution.executedPlan.toString
    assert(projPlan.contains("_proj/pa-"), s"projection not routed:\n$projPlan")
    assert(viaProj.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    // uncovered scans still read the base files
    val viaBase = spark.sql("SELECT a, s FROM graft.bk.m.t")
      .queryExecution.executedPlan.toString
    assert(!viaBase.contains("_proj/"), s"base not served:\n$viaBase")
    // SQL inserts take the same CAS as API commits: an API transaction that
    // read the pre-INSERT version must conflict after the SQL INSERT lands
    val apiTx = s.beginTransaction()
    val apiTable = apiTx.bucket("bk").schema("m").table("t")
    apiTable.insert(spark.createDataFrame(java.util.List.of(Row(50L, "fifty")),
      schema))
    assert(s.getTransaction(apiTx.id).contains(apiTx)) // reference tx GET
    spark.sql("INSERT INTO graft.bk.m.t VALUES (60, 'sixty', 60)")
    intercept[Conflict] { apiTx.commit() }
    assert(s.getTransaction(apiTx.id).isEmpty) // rolled back => not live
    // DDL isolation: a table created by an uncommitted tx is invisible to SQL
    val pendTx = s.beginTransaction()
    pendTx.bucket("bk").schema("m").createTable("pending_t", schema)
    assert(!spark.sql("SHOW TABLES IN graft.bk.m").collect()
      .map(_.getString(1)).contains("pending_t"))
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.bk.m.pending_t").collect()
    }
    pendTx.commit()
    assert(spark.sql("SELECT count(*) FROM graft.bk.m.pending_t").collect()
      .head.getLong(0) == 0)
    // SQL DELETE WHERE runs the same transactional COW delete as the API
    val before = spark.sql("SELECT count(*) FROM graft.bk.m.t").collect()
      .head.getLong(0)
    spark.sql("DELETE FROM graft.bk.m.t WHERE a >= 50 AND s LIKE 's%'")
    val remaining = spark.sql("SELECT a FROM graft.bk.m.t ORDER BY a").collect()
      .map(_.getLong(0)).toSeq
    assert(!remaining.contains(60L) && remaining.size == before - 1,
      s"delete wrong: $remaining")
    s.transaction { tx => // API view agrees
      assert(tx.bucket("bk").schema("m").table("t")
        .select(Seq("a"), col("a") === 60L).count() == 0)
    }
  }

  test("rename-evolved table at scale: vectorized read + pushed filters") {
    val root = Files.createTempDirectory("graft-sqlcat3").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("li",
        org.apache.spark.sql.types.StructType(li.schema.fields))
      t.insert(li)                       // group 1: physical l_returnflag
      t.renameColumn("l_returnflag", "flag")
    }
    s.transaction { tx =>                // group 2: physical flag
      tx.bucket("bk").schema("m").table("li")
        .insert(li.withColumnRenamed("l_returnflag", "flag").limit(500))
    }
    spark.conf.set("spark.sql.catalog.graft3",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft3.root", root)
    val got = spark.sql(
      """SELECT flag, count(*) AS n, sum(l_quantity) AS q
        |FROM graft3.bk.m.li WHERE flag IS NOT NULL GROUP BY flag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = li.union(li.limit(500))
      .groupBy("l_returnflag").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("rename-evolved table answers SQL across mixed physical schemas") {
    val root = Files.createTempDirectory("graft-sqlcat2").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(java.util.List.of(
        Row(1L, "one"), Row(2L, "two")), schema))
      t.renameColumn("s", "label") // files above keep physical name "s"
    }
    s.transaction { tx =>
      // second file group, physically written with the NEW name
      val t = tx.bucket("bk").schema("m").table("t")
      t.insert(spark.createDataFrame(java.util.List.of(Row(3L, "three")),
        StructType(Seq(StructField("a", LongType), StructField("label", StringType)))))
    }
    spark.conf.set("spark.sql.catalog.graft2",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft2.root", root)
    val got = spark.sql(
      "SELECT a, label FROM graft2.bk.m.t WHERE a >= 1 ORDER BY a").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "one"), (2L, "two"), (3L, "three")))
    // column pruning still reaches each per-group parquet scan
    val plan = spark.sql("SELECT label FROM graft2.bk.m.t").queryExecution.sparkPlan
    val readSchemas = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSeq
    }
    assert(readSchemas == Seq(Seq("label")), s"no pruning in:\n$plan")
    // …and each group's parquet scan reads only the column's physical name
    // there: "s" in the files from before the rename, "label" after it
    val groupSchemas = "ReadSchema: (struct<[^>]*>)".r
      .findAllMatchIn(plan.toString).map(_.group(1)).toSeq.sorted
    assert(groupSchemas == Seq("struct<label:string>", "struct<s:string>"),
      s"group scans not pruned in:\n$plan")
    // namespace enumeration: buckets, then schemas inside
    assert(spark.sql("SHOW NAMESPACES IN graft2").collect()
      .map(_.getString(0)).contains("bk"))
    assert(spark.sql("SHOW NAMESPACES IN graft2.bk").collect()
      .map(_.getString(0)).exists(_.endsWith("m")))
    // a filter on the RENAMED column answers correctly across both physical
    // schemas (old files carry "s", new files carry "label")
    val filtered = spark.sql(
      "SELECT a FROM graft2.bk.m.t WHERE label = 'one' OR label = 'three'")
      .collect().map(_.getLong(0)).sorted
    assert(filtered.toSeq == Seq(1L, 3L))
  }

  test("SQL UPDATE/MERGE/subquery-DELETE: group COW, file pruning, CAS") {
    val root = Files.createTempDirectory("graft-sqlupd").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("u", schema)
      // 5 single-file batches with disjoint `a` ranges → pruning targets
      for (b <- 0 until 5) {
        val l = new java.util.ArrayList[Row]()
        (0 until 10).foreach(i => l.add(Row(b * 10L + i, s"v$b-$i")))
        t.insert(spark.createDataFrame(l, schema).coalesce(1))
      }
    }
    spark.conf.set("spark.sql.catalog.graft4",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft4.root", root)
    def files(): Set[String] = {
      var f: Set[String] = Set.empty
      s.transaction(tx =>
        f = tx.bucket("bk").schema("m").table("u").manifest.files.map(_.path).toSet)
      f
    }
    val before = files()
    assert(before.size == 5)

    spark.sql("UPDATE graft4.bk.m.u SET s = 'updated' WHERE a >= 42 AND a < 45")

    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      // group semantics: NO row lost — non-matching rows in the rewritten
      // file group and all rows of untouched groups survive
      assert(t.select().count() == 50)
      assert(t.select(Seq("s"), col("a").between(42, 44)).collect()
        .forall(_.getString(0) == "updated"))
      assert(t.select(Seq("s"), col("a") === 40).head.getString(0) == "v4-0")
      assert(t.select(Seq("s"), col("a") === 5).head.getString(0) == "v0-5")
    }
    // zone-map group pruning: only the one file whose range covers [42,45)
    // was rewritten; the other 4 carried into the new version verbatim
    val after = files()
    assert((before intersect after).size == 4,
      s"UPDATE rewrote ${(before -- after).size} files, want 1")

    // MERGE INTO through the same row-level machinery
    spark.sql("""MERGE INTO graft4.bk.m.u t
      USING (SELECT 7L AS a, 'merged' AS s) src ON t.a = src.a
      WHEN MATCHED THEN UPDATE SET s = src.s""")
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      assert(t.select().count() == 50)
      assert(t.select(Seq("s"), col("a") === 7).head.getString(0) == "merged")
    }

    // DELETE with a subquery: canDeleteWhere can't express it, so it runs
    // through the row-level group COW instead of SupportsDelete
    spark.sql("""DELETE FROM graft4.bk.m.u
      WHERE a IN (SELECT a FROM graft4.bk.m.u WHERE s = 'merged')""")
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      assert(t.select().count() == 49)
      assert(t.select(Seq("a"), col("a") === 7).count() == 0)
    }

    // cross-path conflict: an API transaction that pinned the pre-UPDATE
    // version must CAS-fail after a SQL UPDATE commits
    val apiTx = s.beginTransaction()
    val apiT = apiTx.bucket("bk").schema("m").table("u")
    apiT.insert(spark.createDataFrame(
      java.util.List.of(Row(100L, "hundred")), schema))
    spark.sql("UPDATE graft4.bk.m.u SET s = 'race' WHERE a = 0")
    intercept[Conflict] { apiTx.commit() }
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      assert(t.select(Seq("s"), col("a") === 0).head.getString(0) == "race")
      assert(t.select(Seq("a"), col("a") === 100).count() == 0) // lost tx rolled back
    }
  }

  test("SQL DDL: CREATE TABLE, CTAS, RENAME, DROP through the transactional API") {
    val root = Files.createTempDirectory("graft-sqlddl").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx => tx.bucket("bk").createSchema("m") }
    spark.conf.set("spark.sql.catalog.graft7",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft7.root", root)
    // plain CREATE + INSERT + SELECT round trip
    spark.sql("CREATE TABLE graft7.bk.m.t (a BIGINT, s STRING)")
    spark.sql("INSERT INTO graft7.bk.m.t SELECT col1, col2, col3 " +
      "FROM VALUES (1L, 'one', 0L), (2L, 'two', 1L)")
    assert(spark.sql("SELECT s FROM graft7.bk.m.t ORDER BY a").collect()
      .map(_.getString(0)).toSeq == Seq("one", "two"))
    // CTAS: no explicit _row_id in the source — ids are allocated
    spark.sql("CREATE TABLE graft7.bk.m.c AS " +
      "SELECT a * 10 AS a10, s FROM graft7.bk.m.t")
    assert(spark.sql("SELECT a10, _row_id FROM graft7.bk.m.c ORDER BY a10")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((10L, 0L), (20L, 1L)))
    // the created table is a first-class API table too
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("c")
      assert(t.manifest.schema.fieldNames.toSeq == Seq("a10", "s"))
    }
    // TBLPROPERTIES: CREATE-time props land in the manifest, SET/UNSET
    // round-trip through ALTER, SHOW TBLPROPERTIES reads them back
    spark.sql("CREATE TABLE graft7.bk.m.p (a BIGINT) " +
      "TBLPROPERTIES ('owner.team' = 'data', 'ttl' = '30d')")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graft7.bk.m.p").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("owner.team").contains("data") && props().get("ttl").contains("30d"))
    spark.sql("ALTER TABLE graft7.bk.m.p SET TBLPROPERTIES ('ttl' = '90d')")
    assert(props().get("ttl").contains("90d"))
    spark.sql("ALTER TABLE graft7.bk.m.p UNSET TBLPROPERTIES ('owner.team')")
    assert(!props().contains("owner.team"))
    s.transaction { tx => // API view agrees
      assert(tx.bucket("bk").schema("m").table("p").properties ==
        Map("graft.rowid.type" -> "int64", "ttl" -> "90d"))
    }
    // RENAME (staged, transactional) then DROP
    spark.sql("ALTER TABLE graft7.bk.m.c RENAME TO graft7.bk.m.c2")
    assert(spark.sql("SELECT COUNT(*) FROM graft7.bk.m.c2").head().getLong(0) == 2)
    spark.sql("DROP TABLE graft7.bk.m.c2")
    assert(!spark.catalog.tableExists("graft7.bk.m.c2"))
    intercept[Exception] { spark.sql("SELECT * FROM graft7.bk.m.c2").collect() }
  }

  test("SQL ALTER TABLE ADD/RENAME/DROP COLUMN through the transactional API") {
    val root = Files.createTempDirectory("graft-sqlalter").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(java.util.List.of(
        Row(1L, "one"), Row(2L, "two")), schema))
    }
    spark.conf.set("spark.sql.catalog.graft8",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft8.root", root)
    // ADD: new logical column, null-filled for existing files
    spark.sql("ALTER TABLE graft8.bk.m.t ADD COLUMN score DOUBLE")
    assert(spark.sql("SELECT score FROM graft8.bk.m.t").collect()
      .forall(_.isNullAt(0)))
    spark.sql("INSERT INTO graft8.bk.m.t VALUES (3, 'three', 0.5, 2)")
    // RENAME: lazy per-file rename maps — old files physically keep "s",
    // new files write "label"; scans answer across both generations
    spark.sql("ALTER TABLE graft8.bk.m.t RENAME COLUMN s TO label")
    spark.sql("INSERT INTO graft8.bk.m.t VALUES (4, 'four', 0.9, 3)")
    val got = spark.sql(
      "SELECT a, label FROM graft8.bk.m.t WHERE label IS NOT NULL ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four")))
    // DROP: column gone from the SQL schema AND the API manifest
    spark.sql("ALTER TABLE graft8.bk.m.t DROP COLUMN score")
    assert(!spark.sql("SELECT * FROM graft8.bk.m.t").schema
      .fieldNames.contains("score"))
    s.transaction { tx =>
      assert(tx.bucket("bk").schema("m").table("t").manifest.schema
        .fieldNames.toSeq == Seq("a", "label"))
    }
    // duplicate ADD surfaces the transactional error; _row_id is guarded;
    // a positioned ADD would be silently un-honored, so it must reject
    intercept[Exception] {
      spark.sql("ALTER TABLE graft8.bk.m.t ADD COLUMN label STRING")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft8.bk.m.t ADD COLUMN z STRING FIRST")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft8.bk.m.t DROP COLUMN _row_id")
    }
    // cross-tx isolation: a reader that pinned the pre-ALTER version keeps
    // its schema; an uncommitted writer conflicts with the committed ALTER
    val apiTx = s.beginTransaction()
    val apiT = apiTx.bucket("bk").schema("m").table("t")
    apiT.addColumn(StructField("extra", LongType))
    spark.sql("ALTER TABLE graft8.bk.m.t ADD COLUMN other STRING")
    intercept[Conflict] { apiTx.commit() }
    s.transaction { tx =>
      val names = tx.bucket("bk").schema("m").table("t").manifest.schema.fieldNames
      assert(names.contains("other") && !names.contains("extra"))
    }
  }

  test("TIMESTAMP AS OF resolves the newest commit at or before the instant") {
    val root = Files.createTempDirectory("graft-sqltt").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(java.util.List.of(
        Row(1L, "one"), Row(2L, "two")), schema)) // commit -> v1
    }
    Thread.sleep(20) // commit stamps are ms-resolution: separate them
    val between = System.currentTimeMillis() * 1000L
    Thread.sleep(20)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t")
        .insert(spark.createDataFrame(java.util.List.of(Row(3L, "three")),
          schema)) // commit -> v2
    }
    spark.conf.set("spark.sql.catalog.graft9",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft9.root", root)
    // between the two commits -> first insert only
    assert(spark.sql("SELECT count(*) FROM graft9.bk.m.t " +
      s"TIMESTAMP AS OF timestamp_micros(${between}L)").head.getLong(0) == 2)
    // current read sees both
    assert(spark.sql("SELECT count(*) FROM graft9.bk.m.t").head.getLong(0) == 3)
    // now (well after the last commit) -> everything
    assert(spark.sql("SELECT count(*) FROM graft9.bk.m.t " +
      "TIMESTAMP AS OF current_timestamp()").head.getLong(0) == 3)
    // before the table existed -> clear error
    intercept[Exception] {
      spark.sql("SELECT * FROM graft9.bk.m.t " +
        "TIMESTAMP AS OF timestamp_micros(1000000L)").collect()
    }
    // commit stamps stay monotonic under clock skew: simulate a clock that
    // regressed after v2 by doctoring v2's stamp into the future, then
    // commit v3 with the (now "backwards") wall clock — the CAS must clamp
    // v3's stamp to v2+1µs, or AS OF between v2 and v3 would silently
    // include v3
    val tdir = java.nio.file.Paths.get(root, "bk", "m", "t")
    val m2p = tdir.resolve("_manifest").resolve("v00000002.json")
    val m2 = Manifest.read(m2p)
    val future = (System.currentTimeMillis() + 3600_000L) * 1000L
    java.nio.file.Files.delete(m2p)
    Manifest.write(m2p, m2.copy(commitMicros = future), createNew = true)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t")
        .insert(spark.createDataFrame(java.util.List.of(Row(4L, "four")),
          schema)) // commit -> v3, wall clock < v2's doctored stamp
    }
    val m3 = Manifest.read(tdir.resolve("_manifest").resolve("v00000003.json"))
    assert(m3.commitMicros == future + 1,
      s"stamp not clamped: v2=$future v3=${m3.commitMicros}")
    // an instant just after v2's stamp resolves to v2's contents (3 rows),
    // never leaking v3's row
    assert(spark.sql("SELECT count(*) FROM graft9.bk.m.t " +
      s"TIMESTAMP AS OF timestamp_micros(${future}L)").head.getLong(0) == 3)
  }

  test("CALL procedures: history, maintain, vacuum_versions") {
    val root = Files.createTempDirectory("graft-sqlproc").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(java.util.List.of(
        Row(1L, "one"), Row(2L, "two")), schema).coalesce(1))
    }
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t").insert(spark.createDataFrame(
        java.util.List.of(Row(3L, "three")), schema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftp",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftp.root", root)
    // history: one row per version, commit stamps present
    val h = spark.sql("CALL graftp.system.history('bk.m.t')")
      .orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(h.last.getLong(3) == 3L && !h.last.isNullAt(1))
    // maintain: compacts the two single-row files into one
    val m = spark.sql("CALL graftp.system.maintain('bk.m.t')").head
    assert(m.getInt(0) == 1 && m.getLong(1) == 3L, s"maintain -> $m")
    // vacuum with explicit args: compaction orphaned the two pre-maintain
    // files; keep only the newest version and reclaim them
    val v = spark.sql(
      "CALL graftp.system.vacuum_versions('bk.m.t', 1, 0)").head
    assert(v.getInt(1) >= 2, s"expected >= 2 manifests dropped, got $v")
    assert(spark.sql("SELECT count(*) FROM graftp.bk.m.t").head.getLong(0) == 3)
    // defaulted args parse and run (min_age guard keeps everything)
    val v2 = spark.sql("CALL graftp.system.vacuum_versions('bk.m.t')").head
    assert(v2.getInt(0) == 0)
    intercept[Exception] { spark.sql("CALL graftp.system.nope('x')").collect() }
  }

  test("CALL zorder declares keys, rewrites layout, and scans stay exact") {
    val root = Files.createTempDirectory("graft-sqlz").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val zSchema = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType)))
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", zSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 4000).foreach(i => l.add(Row(i % 100L, (i / 100L) * 2L)))
      t.insert(spark.createDataFrame(l, zSchema))
    }
    spark.conf.set("spark.sql.catalog.graftz",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftz.root", root)
    val r = spark.sql(
      "CALL graftz.system.zorder('bk.m.t', 'x, y', 500)").head
    assert(r.getInt(0) == 8 && r.getLong(1) == 4000L, s"zorder -> $r")
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      assert(t.manifest.clusteringKeys == Seq("x", "y"))
      assert(t.stats.sortingDone)
      val all = t.manifest.files
      assert(t.pruneByZoneMaps(all, col("y") < 10L).size < all.size)
    }
    assert(spark.sql(
      "SELECT count(*) FROM graftz.bk.m.t WHERE x BETWEEN 5 AND 15 AND y < 20")
      .head.getLong(0) ==
      (0 until 4000).count(i => i % 100 >= 5 && i % 100 <= 15 && (i / 100) * 2 < 20))
    // the SQL read path prunes FILES from manifest zone maps, not just
    // parquet row groups: the planned scan must hold fewer than all 8 files
    def scannedFiles(sql: String): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
      import org.apache.spark.sql.graftglue.ZoneMapRuntimeScan
      val plan = spark.sql(sql).queryExecution.executedPlan
      val scans = plan.collect { case b: BatchScanExec => b.scan }
      scans.collect {
        case z: ZoneMapRuntimeScan => z.keptFileCount
        case p: ParquetScan => p.fileIndex.inputFiles.length
      }.sum
    }
    val allFiles =
      scannedFiles("SELECT * FROM graftz.bk.m.t")
    val boxFiles = scannedFiles(
      "SELECT * FROM graftz.bk.m.t WHERE x BETWEEN 5 AND 15 AND y < 20")
    assert(allFiles == 8, s"expected 8 files unfiltered, planned $allFiles")
    assert(boxFiles < allFiles,
      s"SQL scan planned $boxFiles of $allFiles files — no file pruning")
    // re-CALL with the same keys is idempotent (no re-declare), still green
    assert(spark.sql("CALL graftz.system.zorder('bk.m.t', 'x,y', 500)")
      .head.getLong(1) == 4000L)
  }

  test("CALL vector_search matches the API top-k, with and without predicate") {
    val root = Files.createTempDirectory("graft-sqlvs").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val vSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("e", vSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 200).foreach { i =>
        l.add(Row(i.toLong, Seq(i.toFloat, (i % 7).toFloat, 1.0f)))
      }
      t.insert(spark.createDataFrame(l, vSchema))
    }
    spark.conf.set("spark.sql.catalog.graftv",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftv.root", root)
    val qv = "42.2, 3.0, 1.0"
    val got = spark.sql(
      s"CALL graftv.system.vector_search('bk.m.e', 'embedding', '$qv', 5)")
      .collect()
    assert(got.length == 5)
    val apiIds = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("e")
        .vectorSearch("embedding", Seq(42.2f, 3.0f, 1.0f), 5)
        .select("_row_id").collect().map(_.getLong(0)).toSeq)
    assert(got.map(_.getLong(0)).toSeq == apiIds,
      s"SQL top-k ${got.map(_.getLong(0)).toSeq} != API $apiIds")
    // distances ascend and the predicate arg narrows the candidates
    assert(got.map(_.getDouble(1)).toSeq ==
      got.map(_.getDouble(1)).sorted.toSeq)
    val pred = spark.sql("CALL graftv.system.vector_search(" +
      s"'bk.m.e', 'embedding', '$qv', 3, 'vec_id >= 100')").collect()
    assert(pred.length == 3)
    // join back by _row_id hydrates payload columns through SQL
    pred.foreach(r => assert(spark.sql(
      s"SELECT vec_id FROM graftv.bk.m.e WHERE _row_id = ${r.getLong(0)}")
      .head.getLong(0) >= 100L))
  }

  test("CALL text_search serves index-backed BM25 matching the API") {
    val root = Files.createTempDirectory("graft-sqlfts").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val dSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("d", dSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 100).foreach { i =>
        val reps = "spark " * (i % 5 + 1)
        l.add(Row(i.toLong, s"${reps}query table scan doc$i"))
      }
      t.insert(spark.createDataFrame(l, dSchema))
      t.createTextIndex("text")
    }
    spark.conf.set("spark.sql.catalog.graftfts",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftfts.root", root)
    val got = spark.sql(
      "CALL graftfts.system.text_search('bk.m.d', 'text', 'spark,query', 7)")
      .collect()
    assert(got.length == 7)
    // scores descend; matches the API path exactly
    assert(got.map(_.getDouble(1)).toSeq ==
      got.map(_.getDouble(1)).sorted.reverse.toSeq)
    val api = s.transaction(tx =>
      tx.bucket("bk").schema("m").table("d")
        .textSearch("text", Seq("spark", "query"), 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == api)
    // bad args fail loudly, not silently empty
    intercept[Exception] { spark.sql(
      "CALL graftfts.system.text_search('bk.m.d', 'text', '', 7)").collect() }
    intercept[Exception] { spark.sql(
      "CALL graftfts.system.text_search('bk.m.d', 'text', 'spark', 0)").collect() }
  }

  test("CALL hybrid_search fuses lexical and dense rankings") {
    val root = Files.createTempDirectory("graft-sqlhyb").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val hSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("emb", ArrayType(FloatType))))
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("d", hSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 60).foreach { i =>
        val reps = "spark " * (i % 4 + 1)
        l.add(Row(i.toLong, s"${reps}scan doc$i",
          Seq(i.toFloat, (i % 5).toFloat, 1f)))
      }
      t.insert(spark.createDataFrame(l, hSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.grafthy",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.grafthy.root", root)
    val got = spark.sql("CALL grafthy.system.hybrid_search(" +
      "'bk.m.d', 'text', 'emb', 'spark,scan', '30.0, 2.0, 1.0', 5)")
      .collect()
    assert(got.length == 5)
    // scores descend and parity with the API path holds
    assert(got.map(_.getDouble(1)).toSeq ==
      got.map(_.getDouble(1)).sorted.reverse.toSeq)
    val api = s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("d")
      graft.llm.Search.hybridSearch(
          t.select(Seq("text", "emb"), internalRowId = true), "_row_id",
          "text", "emb", Seq("spark", "scan"), Seq(30f, 2f, 1f), 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == api)
    intercept[Exception] { spark.sql("CALL grafthy.system.hybrid_search(" +
      "'bk.m.d', 'text', 'emb', '', '1.0', 5)").collect() }
  }

  test("CALL curate runs the one-call pipeline and writes the survivors") {
    val root = Files.createTempDirectory("graft-sqlcu4").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val dSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    // stopword-rich docs (pass the 0.3 quality gate) whose CONTENT words
    // are per-doc unique, so no 5-gram is shared across docs — only the
    // verbatim benchmark copy counts as contamination. id 11 is an exact
    // dup of id 1; the benchmark contains id 5's text verbatim
    def docText(i: Long) =
      s"the w${i}a of w${i}b and w${i}c to w${i}d in w${i}e is " +
        s"w${i}f it w${i}g for w${i}h on w${i}j the w${i}k"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("d", dSchema)
      val l = new java.util.ArrayList[Row]()
      (0L until 10L).foreach(i => l.add(Row(i, docText(i))))
      l.add(Row(11L, docText(1)))
      t.insert(spark.createDataFrame(l, dSchema).coalesce(1))
      val b = m.createTable("bench", StructType(Seq(
        StructField("text", StringType))))
      b.insert(spark.createDataFrame(
        java.util.List.of(Row(docText(5))),
        StructType(Seq(StructField("text", StringType)))))
    }
    spark.conf.set("spark.sql.catalog.graftcu",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftcu.root", root)
    val rep = spark.sql("CALL graftcu.system.curate(" +
      "'bk.m.d', 'id', 'text', 'bk.m.bench', 'text', 'bk.m.curated')")
      .collect().head
    assert(rep.getLong(0) == 11)  // n_input
    assert(rep.getLong(1) == 11)  // all pass the quality gate
    assert(rep.getLong(2) == 10)  // exact dup 11 dropped
    assert(rep.getLong(3) == 10)  // no near-dups among distinct-word docs
    assert(rep.getLong(4) == 9)   // the verbatim benchmark doc 5 dropped
    val kept = spark.sql("SELECT id FROM graftcu.bk.m.curated ORDER BY id")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(11L) && !kept.contains(5L) && kept.contains(1L))
    assert(kept.size == rep.getLong(4))
  }

  test("CALL dedup_probe attributes incoming near-dups to corpus rows") {
    val root = Files.createTempDirectory("graft-sqlprobe").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val dSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    def doc(tag: String, last: String = "end") =
      (1 to 40).map(i => s"$tag$i").mkString(" ") + " " + last
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("corpus", dSchema)
      t.insert(spark.createDataFrame(
        java.util.List.of(Row(0L, doc("alpha")), Row(1L, doc("beta"))),
        dSchema).coalesce(1))
      t.createDedupIndex("text")
      t.refreshDedupIndex("text")
      val c = m.createTable("cand", dSchema)
      c.insert(spark.createDataFrame(
        java.util.List.of(Row(10L, doc("alpha", last = "CHANGED")),
          Row(11L, doc("unrelated"))), dSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.gprobe",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gprobe.root", root)
    val n = spark.sql("CALL gprobe.system.dedup_probe(" +
      "'bk.m.corpus', 'text', 'bk.m.cand', 'id', 'bk.m.hits')").head.getLong(0)
    assert(n == 1L, s"expected exactly the alpha near-dup, got $n")
    val hit = spark.sql(
      "SELECT q_id, similarity FROM gprobe.bk.m.hits").head
    assert(hit.getLong(0) == 10L && hit.getDouble(1) >= 0.7)
  }

  test("CatalogStageStore: optional stages persist too; foreign-schema table refused") {
    val root = Files.createTempDirectory("graft-sqlcu6").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val dSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    def docText(i: Long) =
      s"BANNER LINE SHARED BY ALL\nthe w${i}a of w${i}b and w${i}c to " +
        s"w${i}d in w${i}e is w${i}f it w${i}g for w${i}h on w${i}j the w${i}k"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("d", dSchema)
      val l = new java.util.ArrayList[Row]()
      (0L until 10L).foreach(i => l.add(Row(i, docText(i))))
      t.insert(spark.createDataFrame(l, dSchema).coalesce(1))
      m.createTable("bench", StructType(Seq(StructField("text", StringType))))
        .insert(spark.createDataFrame(
          java.util.List.of(Row(docText(5))),
          StructType(Seq(StructField("text", StringType)))))
      // a PRE-EXISTING table squatting on a stage name with a different
      // shape: the store must refuse, not silently replace
      m.createTable("out_stage_line_dedup", StructType(Seq(
        StructField("unrelated", LongType)))).insert(
        spark.createDataFrame(java.util.List.of(Row(1L)),
          StructType(Seq(StructField("unrelated", LongType)))))
    }
    val e = intercept[IllegalArgumentException] {
      s.transaction { tx =>
        val store = new graft.api.CatalogStageStore(
          tx.bucket("bk").schema("m"), "out")
        graft.llm.Curation.curateCorpus(
          tx.bucket("bk").schema("m").table("d").select(), "id", "text",
          tx.bucket("bk").schema("m").table("bench").select(), "text",
          dedupLines = true, stageStore = store)
      }
    }
    assert(e.getMessage.contains("different"), e.getMessage)
    // with the squatter dropped, the optional line-dedup stage persists
    // alongside the standard ones
    s.transaction(tx =>
      tx.bucket("bk").schema("m").table("out_stage_line_dedup").drop())
    val rep = s.transaction { tx =>
      val store = new graft.api.CatalogStageStore(
        tx.bucket("bk").schema("m"), "out")
      graft.llm.Curation.curateCorpus(
        tx.bucket("bk").schema("m").table("d").select(), "id", "text",
        tx.bucket("bk").schema("m").table("bench").select(), "text",
        dedupLines = true, stageStore = store)._2
    }
    assert(rep.afterLineDedup == 10)
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      for (st <- Seq("line_dedup", "quality", "exact_dedup", "near_dedup",
          "decontaminated"))
        assert(m.tables.contains(s"out_stage_$st"), s"missing stage $st")
      // line dedup rewrote the shared banner out of all but the first doc
      val banners = m.table("out_stage_line_dedup").select()
        .filter(col("text").contains("BANNER LINE SHARED")).count()
      assert(banners == 1L, s"banner kept $banners times")
    }
  }

  test("CALL curate persist_stages: durable stage tables, counts from writes, time travel") {
    val root = Files.createTempDirectory("graft-sqlcu5").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val dSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    def docText(i: Long) =
      s"the w${i}a of w${i}b and w${i}c to w${i}d in w${i}e is " +
        s"w${i}f it w${i}g for w${i}h on w${i}j the w${i}k"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("d", dSchema)
      val l = new java.util.ArrayList[Row]()
      (0L until 10L).foreach(i => l.add(Row(i, docText(i))))
      l.add(Row(11L, docText(1)))
      t.insert(spark.createDataFrame(l, dSchema).coalesce(1))
      val b = m.createTable("bench", StructType(Seq(
        StructField("text", StringType))))
      b.insert(spark.createDataFrame(
        java.util.List.of(Row(docText(5))),
        StructType(Seq(StructField("text", StringType)))))
    }
    spark.conf.set("spark.sql.catalog.graftps",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftps.root", root)
    def run() = spark.sql("CALL graftps.system.curate(" +
      "'bk.m.d', 'id', 'text', 'bk.m.bench', 'text', 'bk.m.curated', " +
      "persist_stages => true)").collect().head
    val rep = run()
    // identical accounting to the localCheckpoint mode — but every number
    // came from the stage INSERT's returned row-id range, not a count()
    assert(rep.getLong(0) == 11 && rep.getLong(1) == 11 &&
      rep.getLong(2) == 10 && rep.getLong(3) == 10 && rep.getLong(4) == 9)
    // stage tables are durable, queryable, and match the accounting
    val stages = Map("quality" -> 11L, "exact_dedup" -> 10L,
      "near_dedup" -> 10L, "decontaminated" -> 9L)
    for ((st, n) <- stages)
      assert(spark.sql(
        s"SELECT COUNT(*) FROM graftps.bk.m.curated_stage_$st")
        .head().getLong(0) == n, s"stage $st")
    // final output equals the last stage's content
    assert(spark.sql("SELECT COUNT(*) FROM graftps.bk.m.curated")
      .head().getLong(0) == 9)
    // a re-run OVERWRITES stage tables in place (new manifest version) —
    // and the prior run's intermediate state stays time-travelable
    val v1 = s.transaction(tx => tx.bucket("bk").schema("m")
      .table("curated_stage_exact_dedup").manifest.version)
    run()
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("curated_stage_exact_dedup")
      assert(t.manifest.version > v1, "re-run must commit a new version")
      assert(t.selectAt(v1).count() == 10, "prior run must stay readable")
      assert(t.select().count() == 10)
    }
  }

  test("CALL curation procedures write output tables matching the Scala API") {
    val root = Files.createTempDirectory("graft-sqlcur").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // 10 distinct docs + 2 planted near-dups of doc 0, one PII doc, and a
    // benchmark that contains doc 5's text verbatim
    def baseText(i: Long) =
      s"document number $i with unique words alpha$i beta$i gamma$i delta$i " +
        s"epsilon$i zeta$i eta$i theta$i iota$i kappa$i"
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val docs = new java.util.ArrayList[Row]()
      (0L until 10L).foreach(i => docs.add(Row(i, baseText(i))))
      docs.add(Row(100L, baseText(0) + " tail"))
      docs.add(Row(101L, baseText(0) + " other"))
      docs.add(Row(102L, "contact me at jane.doe@example.com for details " +
        "and more filler words to make this a plausible document"))
      m.createTable("docs", docSchema)
        .insert(spark.createDataFrame(docs, docSchema))
      m.createTable("bench", docSchema).insert(spark.createDataFrame(
        java.util.List.of(Row(0L, baseText(5))), docSchema))
    }
    spark.conf.set("spark.sql.catalog.graftc",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftc.root", root)
    def api(): org.apache.spark.sql.DataFrame =
      s.transaction(tx => tx.bucket("bk").schema("m").table("docs").select())
    def canonPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // dedup_pairs: output table holds exactly the API's LSH pairs
    val np = spark.sql("CALL graftc.system.dedup_pairs(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.pairs', 0.5)").head.getLong(0)
    val apiPairs = graft.llm.Dedup.minhashPairs(
      api(), "id", "text", threshold = 0.5)
    assert(canonPairs(spark.sql("SELECT * FROM graftc.bk.m.pairs")) ==
      canonPairs(apiPairs) && np >= 2, s"pairs mismatch (n=$np)")

    // dedup_clusters: transitive closure puts 0, 100, 101 in one cluster
    val cl = spark.sql("CALL graftc.system.dedup_clusters(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.cc', 0.5)").head
    val ccOut = spark.sql("SELECT * FROM graftc.bk.m.cc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ccOut(100L) == 0L && ccOut(101L) == 0L)
    assert(cl.getLong(1) == ccOut.values.toSet.size, "n_clusters summary wrong")

    // pii_redact: emails replaced, parity with the API column
    spark.sql("CALL graftc.system.pii_redact('bk.m.docs', 'bk.m.clean')")
    val red = spark.sql(
      "SELECT text_redacted FROM graftc.bk.m.clean WHERE id = 102").head.getString(0)
    assert(red.contains("<EMAIL>") && !red.contains("example.com"), red)

    // chunk: stride/length behavior matches the API count
    val nc = spark.sql("CALL graftc.system.chunk(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.chunks', 4, 4)").head.getLong(0)
    val apiChunks = graft.llm.Curation.chunkByTokens(api(), "id", "text", 4, 4)
    assert(nc == apiChunks.count(),
      s"chunk count $nc != API ${apiChunks.count()}")
    assert(spark.sql("SELECT count(*) FROM graftc.bk.m.chunks").head.getLong(0) == nc)

    // decontaminate: doc 5 (verbatim in the benchmark) is removed
    val nk = spark.sql("CALL graftc.system.decontaminate(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bench', 'text', 'bk.m.kept')").head.getLong(0)
    val keptIds = spark.sql("SELECT id FROM graftc.bk.m.kept").collect()
      .map(_.getLong(0)).toSet
    assert(!keptIds.contains(5L) && keptIds.contains(4L) && nk == keptIds.size)

    // re-running REPLACES the output table rather than appending, and the
    // summary stays the row COUNT (row ids restart from the prior
    // high-water mark on overwrite — the count must not absorb the offset)
    val rerun = spark.sql(
      "CALL graftc.system.pii_redact('bk.m.docs', 'bk.m.clean')").head.getLong(0)
    assert(rerun == 13, s"re-run summary reported $rerun rows, want 13")
    assert(spark.sql("SELECT count(*) FROM graftc.bk.m.clean").head.getLong(0) == 13)

    // dotted table names address through backtick quoting
    s.transaction { tx =>
      tx.bucket("bk").schema("m").createTable("ta.ble", docSchema)
        .insert(spark.createDataFrame(
          java.util.List.of(Row(1L, "x")), docSchema))
    }
    val h = spark.sql("CALL graftc.system.history('bk.m.`ta.ble`')").collect()
    assert(h.nonEmpty, "dotted table name not addressable through CALL")
    // an unbalanced quote is a clear error, not a silent mis-split
    val err = intercept[Exception] {
      spark.sql("CALL graftc.system.history('bk.m.`ta.ble')").collect()
    }
    assert(err.getMessage.contains("unbalanced backtick"), err.getMessage)
  }

  test("INSERT OVERWRITE replaces contents transactionally; ids never reused") {
    val root = Files.createTempDirectory("graft-sqlovw").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("u", schema)
      val l = new java.util.ArrayList[Row]()
      (0 until 10).foreach(i => l.add(Row(i.toLong, s"old$i")))
      t.insert(spark.createDataFrame(l, schema)) // ids 0..9
    }
    spark.conf.set("spark.sql.catalog.graft6",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft6.root", root)
    // full-table overwrite through SQL (schema exposes _row_id: supply ids
    // well below the mark — the mark must still never move backwards)
    spark.sql("""INSERT OVERWRITE graft6.bk.m.u
      SELECT col1 AS a, col2 AS s, col3 AS `_row_id`
      FROM VALUES (100L, 'new0', 0L), (101L, 'new1', 1L)""")
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      assert(t.select().count() == 2)
      assert(t.select(Seq("s"), col("a") === 100).head.getString(0) == "new0")
      // old rows fully gone
      assert(t.select(Nil, col("a") < 100).count() == 0)
      // high-water mark survived the overwrite: fresh ids allocate above 10
      val (start, _) = t.insert(spark.createDataFrame(
        java.util.List.of(Row(200L, "fresh")), schema))
      assert(start >= 10, s"row-id high-water mark regressed to $start after overwrite")
    }
    // API truncate = overwrite with an empty batch, same transactional step
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      t.overwrite(spark.createDataFrame(
        new java.util.ArrayList[Row](), schema))
      assert(t.select().count() == 0)
    }
    s.transaction { tx =>
      assert(tx.bucket("bk").schema("m").table("u").select().count() == 0)
    }
  }

  test("MERGE-inserted explicit _row_id advances the insert high-water mark") {
    val root = Files.createTempDirectory("graft-sqlhwm").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("u", schema)
      val l = new java.util.ArrayList[Row]()
      (0 until 5).foreach(i => l.add(Row(i.toLong, s"v$i")))
      t.insert(spark.createDataFrame(l, schema)) // ids 0..4
    }
    spark.conf.set("spark.sql.catalog.graft5",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graft5.root", root)
    // MERGE can insert a row carrying an explicit _row_id far above the
    // current high-water mark (the external vastdb_rowid path in SQL form)
    spark.sql("""MERGE INTO graft5.bk.m.u t
      USING (SELECT 99L AS a, 'merged' AS s, 100L AS rid) src ON t.a = src.a
      WHEN NOT MATCHED THEN INSERT (a, s, `_row_id`) VALUES (src.a, src.s, src.rid)""")
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("u")
      assert(t.select().count() == 6)
      // a later API insert must allocate ABOVE the merged id, never reuse it
      val (start, _) = t.insert(spark.createDataFrame(
        java.util.List.of(Row(7L, "seven")), schema))
      assert(start >= 101, s"insert allocated row id $start, colliding with merged id 100")
      val ids = t.select(Nil, org.apache.spark.sql.functions.lit(true), internalRowId = true)
        .select("_row_id").collect().map(_.getLong(0))
      assert(ids.distinct.length == ids.length, "duplicate _row_id after MERGE insert")
    }
  }
  test("CALL corpus_report writes the per-source breakdown and returns totals") {
    val root = Files.createTempDirectory("graft-sqlcrep").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", StringType),
      StructField("text", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("d", docSchema)
      val l = new java.util.ArrayList[Row]()
      // 12 docs over 3 sources; srcB carries a duplicated text
      (0L until 12L).foreach { i =>
        val body = if (i == 7) "dup body the same" else s"doc $i of the corpus w$i"
        l.add(Row(i, s"src${(i % 3).toInt}", if (i == 4) "dup body the same" else body))
      }
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.gcrep",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gcrep.root", root)
    val tot = spark.sql("CALL gcrep.system.corpus_report(" +
      "'bk.m.d', 'text', 'bk.m.card', source_col => 'src')").head
    assert(tot.getLong(0) == 12, "n_docs")
    assert(tot.getLong(3) == 11, "distinct_docs (one duplicated text)")
    assert(tot.getLong(6) == 3, "n_sources")
    val card = spark.sql(
      "SELECT source, n_docs, token_share FROM gcrep.bk.m.card ORDER BY source")
      .collect()
    assert(card.length == 3)
    assert(card.map(_.getLong(1)).sum == 12)
    // shares sum to ~1 and the API result matches the CALL's table
    assert(math.abs(card.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    val api = graft.llm.TextAnalysis.corpusReportBySource(
      s.transaction(tx => tx.bucket("bk").schema("m").table("d").select()),
      "src", "text").orderBy("source").collect()
    assert(api.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      card.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("CALL shard_export / domain_mix / line_dedup / classifier_score") {
    val root = Files.createTempDirectory("graft-sqlr11").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("dom", StringType),
      StructField("text", StringType), StructField("lbl", DoubleType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val t = m.createTable("d", docSchema)
      val l = new java.util.ArrayList[Row]()
      // 20 docs across 2 domains; a shared banner line; labels 0/1 by a
      // text property the hashed features carry (token w-even vs w-odd)
      (0L until 20L).foreach { i =>
        val label = if (i % 2 == 0) 1.0 else 0.0
        val tok = if (i % 2 == 0) "evenmarker evenmarker evenmarker"
                  else "oddmarker oddmarker oddmarker"
        l.add(Row(i, s"dom${i % 2}",
          s"SHARED BANNER LINE HERE\ndoc $i body $tok unique$i", label))
      }
      t.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftr11",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr11.root", root)

    val se = spark.sql("CALL graftr11.system.shard_export(" +
      "'bk.m.d', 'id', 4, 'sv1', 'bk.m.shards')").head
    assert(se.getLong(0) == 20 && se.getInt(1) == 4)
    val sizes = spark.sql(
      "SELECT shard, count(*) n FROM graftr11.bk.m.shards GROUP BY shard")
      .collect().map(_.getLong(1))
    assert(sizes.length == 4 && sizes.forall(_ == 5))

    val dm = spark.sql("CALL graftr11.system.domain_mix(" +
      "'bk.m.d', 'id', 'dom', 10L, 'mx', 'bk.m.mixed')").head
    // 2 equal domains, w=floor(sqrt(10))=3 each, quota = 10*3/6 = 5 each
    assert(dm.getLong(0) == 10)

    // epoch mixing matches the Scala API row-for-row
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val src = m.table("d").select()
        .withColumn("nt", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      val t2 = m.createTable("dnt", org.apache.spark.sql.types.StructType(
        src.schema.fields.filterNot(_.name == "_row_id")))
      t2.insert(src.drop("_row_id"))
    }
    val em = spark.sql("CALL graftr11.system.epoch_mix(" +
      "'bk.m.dnt', 'id', 'dom', 'nt', 2000L, 'ep', 'bk.m.epochs', 2)").head
    val apiRows = s.transaction { tx =>
      graft.llm.Curation.domainMixEpochs(
        tx.bucket("bk").schema("m").table("dnt").select(),
        "id", "dom", "nt", 2000L, 2, "ep")
        .select("id", "epoch").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    assert(em.getLong(0) == apiRows.size)
    val tableRows = spark.sql("SELECT id, epoch FROM graftr11.bk.m.epochs")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(tableRows == apiRows)

    val ld = spark.sql("CALL graftr11.system.line_dedup(" +
      "'bk.m.d', 'id', 'text', 'bk.m.clean')").head
    assert(ld.getLong(0) == 20)
    val banners = spark.sql("SELECT count(*) FROM graftr11.bk.m.clean " +
      "WHERE text LIKE '%SHARED BANNER LINE HERE%'").head.getLong(0)
    assert(banners == 1, s"banner should survive in exactly one doc, got $banners")

    val cs = spark.sql("CALL graftr11.system.classifier_score(" +
      "'bk.m.d', 'id', 'text', 'lbl', 'bk.m.scores', 16, 6)").head
    assert(cs.getLong(0) == 20 && cs.getLong(1) == 20)
    assert(cs.getDouble(2) >= 0.95, s"train accuracy ${cs.getDouble(2)}")
    // scores separate the two classes the labels encode
    val sep = spark.sql(
      """SELECT min(CASE WHEN id % 2 = 0 THEN quality_score END) AS mn1,
        |       max(CASE WHEN id % 2 = 1 THEN quality_score END) AS mx0
        |FROM graftr11.bk.m.scores""".stripMargin)
      .head
    assert(sep.getDouble(0) > sep.getDouble(1),
      s"even-class min score ${sep.getDouble(0)} should exceed odd-class max ${sep.getDouble(1)}")

    // contamination attribution: doc↔bench pairs with shared-gram counts
    val cr = spark.sql("CALL graftr11.system.contamination_report(" +
      "'bk.m.d', 'id', 'text', 'bk.m.d', 'id', 'text', 'bk.m.leaks', 5, 1)").head
    // every doc matches at least itself (the bench IS the corpus here)
    assert(cr.getLong(1) == 20, s"expected all 20 docs flagged, got $cr")
    val selfPairs = spark.sql(
      "SELECT count(*) FROM graftr11.bk.m.leaks WHERE id = bench_id").head.getLong(0)
    assert(selfPairs == 20)

    // fit-once persistence: classifier_fit writes a loadable one-row model
    val cf = spark.sql("CALL graftr11.system.classifier_fit(" +
      "'bk.m.d', 'text', 'lbl', 'bk.m.model', 16, 6)").head
    assert(cf.getLong(0) == 20 && cf.getDouble(1) >= 0.95)
    val mrow = spark.sql(
      "SELECT dim, size(weights) FROM graftr11.bk.m.model").head
    assert(mrow.getInt(0) == 16 && mrow.getInt(1) == 16)

    // text -> tensors in SQL: fit a tokenizer, pack exact-length sequences
    val bf = spark.sql("CALL graftr11.system.bpe_fit(" +
      "'bk.m.d', 'text', 'bk.m.bpe', 50, 100)").head
    assert(bf.getLong(0) > 0)
    val tp = spark.sql("CALL graftr11.system.tokenize_pack(" +
      "'bk.m.d', 'id', 'text', 'bk.m.bpe', 'bk.m.seqs', 16, -1L)").head
    val nTok = tp.getLong(1)
    assert(tp.getLong(0) == (nTok + 15) / 16,
      s"sequences ${tp.getLong(0)} vs tokens $nTok")
    val lens = spark.sql(
      "SELECT size(token_ids) AS l FROM graftr11.bk.m.seqs").collect()
      .map(_.getInt(0))
    assert(lens.count(_ != 16) <= 1 && lens.sum == nTok)

    // multiclass: fit a 2-class softmax on the same labels, score unseen
    val smf = spark.sql("CALL graftr11.system.softmax_fit(" +
      "'bk.m.d', 'text', 'lbl', 'bk.m.smodel', 16, 2, 8)").head
    assert(smf.getLong(0) == 20 && smf.getDouble(1) >= 0.95, s"softmax_fit: $smf")
    val sms = spark.sql("CALL graftr11.system.softmax_score(" +
      "'bk.m.d', 'id', 'text', 'bk.m.smodel', 'bk.m.spred')").head
    assert(sms.getLong(0) == 20)
    val wrong = spark.sql(
      """SELECT count(*) FROM graftr11.bk.m.spred
        |WHERE predicted_class <> CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END"""
        .stripMargin).head.getLong(0)
    assert(wrong == 0, s"$wrong softmax mispredictions")

    // the one-call pipeline with the round-11 optional stages: line dedup
    // on, model gate from the persisted model (docs need a benchmark
    // table; reuse the corpus so decontamination is vacuous here thanks to
    // per-doc-unique 5-grams... instead pass an empty-text bench table)
    spark.sql("CREATE TABLE graftr11.bk.m.nobench (text STRING) ")
    val cu = spark.sql("CALL graftr11.system.curate(" +
      "'bk.m.d', 'id', 'text', 'bk.m.nobench', 'text', 'bk.m.cur8', " +
      "0.0, 0.7, true, 'bk.m.model', 0.5)").head
    assert(cu.getLong(5) == 20, s"line-dedup count: $cu")   // ran, no drops
    assert(cu.getLong(6) < 20 && cu.getLong(6) >= 8, s"model gate: $cu")
    val banner2 = spark.sql("SELECT count(*) FROM graftr11.bk.m.cur8 " +
      "WHERE text LIKE '%SHARED BANNER LINE HERE%'").head.getLong(0)
    assert(banner2 <= 1, s"banner in $banner2 curated docs")
  }

  test("CALL dsir_select / keep_best match their Scala APIs") {
    val root = Files.createTempDirectory("graft-sqlr12").toString
    val s = new VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val code = Seq("defx", "classx", "valx", "matchx", "casex", "objectx")
    val web = Seq("click", "buy", "sale", "offer", "free", "now")
    def mixDoc(words: Seq[String], salt: Int): String =
      (0 until 30).map(i => words((i * 7 + salt) % words.size)).mkString(" ")
    // 5 near-dup pairs (2g, 2g+1): the odd twin is the PADDED (longer) copy;
    // ids 100-104 are unrelated singletons
    def grpDoc(g: Int): String =
      (0 until 30).map(j => s"g${g}tok$j").mkString(" ")
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val raw = m.createTable("raw", docSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 60).foreach(i =>
        l.add(Row(i.toLong, mixDoc(if (i % 2 == 0) code else web, i))))
      raw.insert(spark.createDataFrame(l, docSchema).coalesce(1))
      val tgt = m.createTable("tgt", docSchema)
      val lt = new java.util.ArrayList[Row]()
      (0 until 10).foreach(i => lt.add(Row(1000L + i, mixDoc(code, i * 3))))
      tgt.insert(spark.createDataFrame(lt, docSchema).coalesce(1))
      val dup = m.createTable("dup", docSchema)
      val ld = new java.util.ArrayList[Row]()
      (0 until 5).foreach { g =>
        ld.add(Row((2 * g).toLong, grpDoc(g)))
        ld.add(Row((2 * g + 1).toLong, grpDoc(g) + " tailx taily"))
      }
      (100 until 105).foreach(i => ld.add(Row(i.toLong, grpDoc(i))))
      dup.insert(spark.createDataFrame(ld, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftr12",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr12.root", root)

    // deterministic top-k: only target-vocabulary (even-id) docs selected,
    // and the CALL's table equals the Scala API's selection
    val ds = spark.sql("CALL graftr12.system.dsir_select(" +
      "'bk.m.raw', 'bk.m.tgt', 'id', 'bk.m.sel', k => 20L, buckets => 256)")
      .head
    assert(ds.getLong(0) == 20)
    val selRows = spark.sql(
      "SELECT id, dsir_logweight, sel_rank FROM graftr12.bk.m.sel").collect()
    val selIds = selRows.map(_.getLong(0)).toSet
    assert(selIds.size == 20 && selIds.forall(_ % 2 == 0),
      s"only code-vocab docs should be selected: $selIds")
    val apiIds = s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      graft.llm.Selection.dsirSelect(m.table("raw").select(),
          m.table("tgt").select(), "id", k = 20, buckets = 256)
        .collect().map(_.getAs[Long]("id")).toSet
    }
    assert(selIds == apiIds)

    // gumbel mode: seeded and reproducible (identical output both runs)
    def gumbelIds(out: String): Set[Long] = {
      val n = spark.sql("CALL graftr12.system.dsir_select(" +
        s"'bk.m.raw', 'bk.m.tgt', 'id', '$out', k => 20L, buckets => 256, " +
        "gumbel_seed => '42')").head.getLong(0)
      assert(n == 20)
      spark.sql(s"SELECT id FROM graftr12.$out").collect()
        .map(_.getLong(0)).toSet
    }
    assert(gumbelIds("bk.m.selg1") == gumbelIds("bk.m.selg2"))

    // keep_best: each near-dup cluster keeps its LONGEST member (the
    // padded odd twin); singletons pass through untouched
    val kb = spark.sql("CALL graftr12.system.keep_best(" +
      "'bk.m.dup', 'id', 'text', 'bk.m.best')").head
    assert(kb.getLong(0) == 10, s"expected 10 survivors, got $kb")
    val kept = spark.sql("SELECT id FROM graftr12.bk.m.best").collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L, 7L, 9L, 100L, 101L, 102L, 103L, 104L),
      s"survivors: $kept")

    // weighted_sample: seeded draw to a table; P ∝ w (a 9999x row is in
    // every draw, a zero-weight row in none), reproducible
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val wtSchema = StructType(Seq(
        StructField("id", LongType), StructField("w", DoubleType)))
      val wt = m.createTable("wt", wtSchema)
      val lw = new java.util.ArrayList[Row]()
      (0 until 50).foreach(i =>
        lw.add(Row(i.toLong, if (i == 7) 9999.0 else 1.0)))
      lw.add(Row(50L, 0.0))
      wt.insert(spark.createDataFrame(lw, wtSchema).coalesce(1))
    }
    def sampIds(out: String): Set[Long] = {
      val n = spark.sql("CALL graftr12.system.weighted_sample(" +
        s"'bk.m.wt', 'id', 'w', 10L, 5L, '$out')").head.getLong(0)
      assert(n == 10)
      spark.sql(s"SELECT id FROM graftr12.$out").collect()
        .map(_.getLong(0)).toSet
    }
    val s1 = sampIds("bk.m.ws1")
    assert(s1.contains(7L), "heavy row must be drawn")
    assert(!s1.contains(50L), "zero-weight row must never be drawn")
    assert(s1 == sampIds("bk.m.ws2"), "same seed reproduces the draw")

    // dsir_fit persists the dense (bucket, log_ratio) model; dsir_score
    // reloads it and scores map-side — target-vocab docs outweigh rest
    val fit = spark.sql("CALL graftr12.system.dsir_fit(" +
      "'bk.m.raw', 'bk.m.tgt', 'text', 'bk.m.dsmodel', 64)").head
    assert(fit.getLong(0) == 64)
    val sc = spark.sql("CALL graftr12.system.dsir_score(" +
      "'bk.m.raw', 'bk.m.dsmodel', 'text', 'bk.m.dsscored')").head
    assert(sc.getLong(0) == 60)
    val sep2 = spark.sql(
      """SELECT min(CASE WHEN id % 2 = 0 THEN dsir_logweight END) AS mn,
        |       max(CASE WHEN id % 2 = 1 THEN dsir_logweight END) AS mx
        |FROM graftr12.bk.m.dsscored""".stripMargin).head
    assert(sep2.getDouble(0) > sep2.getDouble(1),
      "code-vocab docs must outweigh web-vocab docs under the model")

    // CALL curate with the gopher stage on: the rule-violating doc drops
    // and n_after_gopher lands in the report row (arg-position pin)
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val cd = m.createTable("cdocs", docSchema)
      val lc = new java.util.ArrayList[Row]()
      (0 until 8).foreach { i =>
        val body = (0 until 54).map(j => s"w${i}x$j").mkString(" ")
        lc.add(Row(i.toLong, s"$body the of and with that have"))
      }
      lc.add(Row(99L, "the short one"))
      cd.insert(spark.createDataFrame(lc, docSchema).coalesce(1))
      m.createTable("nobench2",
        StructType(Seq(StructField("text", StringType))))
    }
    val cu = spark.sql("CALL graftr12.system.curate(" +
      "'bk.m.cdocs', 'id', 'text', 'bk.m.nobench2', 'text', 'bk.m.curg', " +
      "0.0, 0.7, false, '', 0.5, false, true)").head
    assert(cu.getLong(0) == 9, s"n_input: $cu")
    assert(cu.getLong(7) == 8, s"n_after_gopher: $cu")
    assert(cu.getLong(4) == 8, s"n_kept: $cu")
    assert(cu.getLong(8) == -1L, s"n_after_c4 off by default: $cu")

    // standalone rule-filter doors
    val gf = spark.sql("CALL graftr12.system.gopher_filter(" +
      "'bk.m.cdocs', 'bk.m.gkept')").head
    assert(gf.getLong(0) == 8, s"gopher_filter kept: $gf")
    val c4 = spark.sql("CALL graftr12.system.c4_filter(" +
      "'bk.m.cdocs', 'bk.m.ckept', 'text', 0)").head
    // no doc has terminal-punctuation lines → all texts rewrite to empty,
    // but min_lines=0 keeps every page (rewrite-only mode)
    assert(c4.getLong(0) == 9, s"c4_filter kept: $c4")
    val emptied = spark.sql(
      "SELECT count(*) FROM graftr12.bk.m.ckept WHERE text = ''")
      .head.getLong(0)
    assert(emptied == 9, "c4 rewrite must strip punctuation-less lines")
  }

  test("CALL span_dedup / ccnet_bucket match their Scala APIs") {
    val root = Files.createTempDirectory("graft-sqlr12b").toString
    val s = new VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val d = m.createTable("docs", docSchema)
      val l = new java.util.ArrayList[Row]()
      // ids 0/1 share a 6-token span; 2 is unique
      l.add(Row(0L, "s1 s2 s3 s4 s5 s6 only in zero"))
      l.add(Row(1L, "one has s1 s2 s3 s4 s5 s6"))
      l.add(Row(2L, "entirely distinct tokens here now yes"))
      d.insert(spark.createDataFrame(l, docSchema).coalesce(1))
      // ccnet: train slice + scored docs (fluent vs rare-bigram soup)
      val tr = m.createTable("train", docSchema)
      val lt = new java.util.ArrayList[Row]()
      lt.add(Row(100L, "the cat sat on the mat the cat sat"))
      tr.insert(spark.createDataFrame(lt, docSchema).coalesce(1))
      val sc = m.createTable("scored", docSchema)
      val ls = new java.util.ArrayList[Row]()
      ls.add(Row(0L, "the cat sat on the mat"))
      ls.add(Row(1L, "the cat sat qqq"))
      ls.add(Row(2L, "qqq zzz vvv uuu"))
      sc.insert(spark.createDataFrame(ls, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftr12b",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr12b.root", root)

    val sd = spark.sql("CALL graftr12b.system.span_dedup(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.spanout', span_tokens => 4)").head
    assert(sd.getLong(0) == 3, s"span_dedup rows: $sd")
    val texts = spark.sql("SELECT id, text FROM graftr12b.bk.m.spanout")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(0L) == "s1 s2 s3 s4 s5 s6 only in zero")
    assert(texts(1L) == "one has", s"cut copy: ${texts(1L)}")
    assert(texts(2L) == "entirely distinct tokens here now yes")

    // bucketed rows land with LM stats; drop_tail keeps head+middle only
    val cb = spark.sql("CALL graftr12b.system.ccnet_bucket(" +
      "'bk.m.scored', 'bk.m.train', 'id', 'bk.m.buckets')").head
    assert(cb.getLong(0) == 3, s"ccnet_bucket rows: $cb")
    val buckets = spark.sql(
      "SELECT id, bucket FROM graftr12b.bk.m.buckets").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(buckets == Map(0L -> "head", 1L -> "middle", 2L -> "tail"),
      s"buckets: $buckets")
    val cbd = spark.sql("CALL graftr12b.system.ccnet_bucket(" +
      "'bk.m.scored', 'bk.m.train', 'id', 'bk.m.kept', " +
      "drop_tail => true)").head
    assert(cbd.getLong(0) == 2, s"drop_tail rows: $cbd")
    val keptIds = spark.sql("SELECT id FROM graftr12b.bk.m.kept").collect()
      .map(_.getLong(0)).toSet
    assert(keptIds == Set(0L, 1L), s"kept: $keptIds")

    // blocklist doors: URL suffix semantics + token badwords
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val uSchema = StructType(Seq(
        StructField("id", LongType), StructField("url", StringType)))
      val u = m.createTable("urls", uSchema)
      val lu = new java.util.ArrayList[Row]()
      lu.add(Row(1L, "https://ads.blocked.com/x"))
      lu.add(Row(2L, "https://fine.org/y"))
      u.insert(spark.createDataFrame(lu, uSchema).coalesce(1))
      val bSchema = StructType(Seq(StructField("domain", StringType)))
      val b = m.createTable("bl", bSchema)
      val lb = new java.util.ArrayList[Row]()
      lb.add(Row("blocked.com"))
      b.insert(spark.createDataFrame(lb, bSchema).coalesce(1))
      val tSchema = StructType(Seq(StructField("term", StringType)))
      val tt = m.createTable("badwords", tSchema)
      val ltm = new java.util.ArrayList[Row]()
      ltm.add(Row("qqq"))
      tt.insert(spark.createDataFrame(ltm, tSchema).coalesce(1))
    }
    val uf = spark.sql("CALL graftr12b.system.url_filter(" +
      "'bk.m.urls', 'id', 'url', 'bk.m.bl', 'bk.m.ukept')").head
    assert(uf.getLong(0) == 1, s"url_filter kept: $uf")
    assert(spark.sql("SELECT id FROM graftr12b.bk.m.ukept").head.getLong(0) == 2L)
    val bf = spark.sql("CALL graftr12b.system.badword_filter(" +
      "'bk.m.scored', 'id', 'text', 'bk.m.badwords', 'bk.m.bkept')").head
    assert(bf.getLong(0) == 1, s"badword_filter kept: $bf")
    assert(spark.sql("SELECT id FROM graftr12b.bk.m.bkept").head.getLong(0) == 0L)

    // span_stats door: docs 0/1 share the 6-token span (4-token windows
    // tile it: 6 covered tokens each); doc 2 is unique
    val st = spark.sql("CALL graftr12b.system.span_stats(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.spanstats', span_tokens => 4)").head
    assert(st.getLong(0) == 3, s"span_stats rows: $st")
    val stats = spark.sql(
      "SELECT id, dup_tokens FROM graftr12b.bk.m.spanstats").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == Map(0L -> 6L, 1L -> 6L, 2L -> 0L), s"stats: $stats")

    // span_probe door: a candidate quoting doc 2's text reports coverage
    // against the persisted span index
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      m.table("docs").createSpanIndex("text", spanTokens = 4)
      val cand = m.createTable("cands", docSchema)
      val lc = new java.util.ArrayList[Row]()
      lc.add(Row(500L, "entirely distinct tokens here now yes plus extra"))
      lc.add(Row(501L, "nothing shared whatsoever in this candidate row"))
      cand.insert(spark.createDataFrame(lc, docSchema).coalesce(1))
    }
    val sp = spark.sql("CALL graftr12b.system.span_probe(" +
      "'bk.m.docs', 'text', 'bk.m.cands', 'id', 'bk.m.probed')").head
    assert(sp.getLong(0) == 2, s"span_probe rows: $sp")
    val probed = spark.sql(
      "SELECT id, dup_tokens FROM graftr12b.bk.m.probed").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probed(500L) == 6L, s"quoted six-token prefix covered: $probed")
    assert(probed(501L) == 0L)

    // CALL curate span stage: full-positional call pins span_dedup_tokens
    // at arg 16 and n_after_span_dedup at field 10
    s.transaction { tx =>
      tx.bucket("bk").schema("m").createTable("nob",
        StructType(Seq(StructField("text", StringType))))
    }
    val cu = spark.sql("CALL graftr12b.system.curate(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.nob', 'text', 'bk.m.cur1', " +
      "0.0, 0.7, false, '', 0.5, false, false, false, 5, 4)").head
    assert(cu.getLong(0) == 3 && cu.getLong(9) == 3,
      s"span accounting: $cu")
    val curTexts = spark.sql(
      "SELECT id, text FROM graftr12b.bk.m.cur1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(curTexts(0L).contains("s1 s2 s3 s4"), "keep-first copy survives")
    assert(!curTexts(1L).contains("s1 s2 s3 s4"),
      s"span cut in the pipeline: ${curTexts(1L)}")
  }

  test("CALL sample_per_domain / byte-level bpe_fit+tokenize_pack doors") {
    val root = Files.createTempDirectory("graft-sqlr13").toString
    val s = new VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("dom", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val d = m.createTable("docs", docSchema)
      val l = new java.util.ArrayList[Row]()
      // ASCII corpus: the eos_special detokenize check below concatenates
      // PER-SEQUENCE decodes, and a multi-byte char whose two byte-ids
      // straddle a sequence cut would decode as U+FFFD on both sides (the
      // documented per-sequence-decode caveat; exact recovery across cuts
      // means decoding the concatenated id stream, not the strings)
      (0 until 20).foreach(i =>
        l.add(Row(i.toLong, s"the cat sat on mat $i don't stop now",
          if (i % 2 == 0) "even.org" else "odd.net")))
      l.add(Row(99L, "lone domain row", "solo.io"))
      d.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftr13",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr13.root", root)

    // stratified sample: ≤3 per domain, the 1-row domain fully included,
    // same seed reproduces the draw
    def draw(out: String): Map[String, Set[Long]] = {
      val n = spark.sql("CALL graftr13.system.sample_per_domain(" +
        s"'bk.m.docs', 'id', 'dom', '$out', k => 3, seed => 5L)")
        .head.getLong(0)
      assert(n == 7, s"expected 3+3+1 sampled rows, got $n")
      spark.sql(s"SELECT dom, id FROM graftr13.$out").collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    }
    val d1 = draw("bk.m.samp1")
    assert(d1("even.org").size == 3 && d1("odd.net").size == 3 &&
      d1("solo.io") == Set(99L), s"draw: $d1")
    assert(d1 == draw("bk.m.samp2"), "same seed must reproduce the draw")

    // byte-level fit + pack: merges persist WITH their mode (byte_level
    // column), dense ids stay inside the vocab bound [0, 256+n_merges) ∪
    // {eos}, and packing is exact-length. tokenize_pack deliberately
    // OMITS byte_level here: the mode must be inferred from the model
    // table, so a caller forgetting the flag can no longer silently pack
    // wrong-alphabet hash ids
    val bf = spark.sql("CALL graftr13.system.bpe_fit(" +
      "'bk.m.docs', 'text', 'bk.m.bpe', 30, 100, byte_level => true)").head
    val nMerges = bf.getLong(0)
    assert(nMerges > 0 && nMerges <= 30)
    assert(spark.sql("SELECT bool_and(byte_level) FROM graftr13.bk.m.bpe")
      .head.getBoolean(0), "fit must stamp the mode into the model table")
    val tp = spark.sql("CALL graftr13.system.tokenize_pack(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bpe', 'bk.m.seqs', 16, -1L)").head
    val nTok = tp.getLong(1)
    assert(tp.getLong(0) == (nTok + 15) / 16,
      s"sequences ${tp.getLong(0)} vs tokens $nTok")
    val idRange = spark.sql(
      """SELECT min(i) AS mn, max(i) AS mx
        |FROM (SELECT explode(token_ids) AS i FROM graftr13.bk.m.seqs)
        |WHERE i <> -1""".stripMargin).head
    assert(idRange.getLong(0) >= 0 && idRange.getLong(1) < 256 + nMerges,
      s"dense ids out of vocab range: $idRange (vocab < ${256 + nMerges})")

    // eos_special: documents joined by the SPECIAL's dense id (vocabSize),
    // not the sentinel — GPT-2's <|endoftext|> packing layout. One eos per
    // document lands in the stream; no -1 sentinel appears
    val vocabSize = spark.sql(
      "SELECT 256 + count(DISTINCT left || right) FROM graftr13.bk.m.bpe")
      .head.getLong(0)
    spark.sql("CALL graftr13.system.tokenize_pack(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bpe', 'bk.m.seqs2', 16, " +
      "eos_special => '<|endoftext|>')")
    val eos = spark.sql(
      s"""SELECT
         |  sum(CASE WHEN i = $vocabSize THEN 1 ELSE 0 END) AS n_eos,
         |  sum(CASE WHEN i = -1 THEN 1 ELSE 0 END) AS n_sentinel
         |FROM (SELECT explode(token_ids) AS i FROM graftr13.bk.m.seqs2)"""
        .stripMargin).head
    assert(eos.getLong(0) == 21 && eos.getLong(1) == 0,
      s"eos_special layout: $eos (want 21 docs' eos ids, zero sentinels)")
    // detokenize: the packed eos_special shards decode back to readable
    // text — concatenating the decoded sequences reproduces the original
    // corpus stream, documents joined by the literal special
    spark.sql("CALL graftr13.system.detokenize(" +
      "'bk.m.seqs2', 'token_ids', 'bk.m.bpe', 'bk.m.readable', " +
      "eos_special => '<|endoftext|>')")
    val stream = spark.sql(
      "SELECT text FROM graftr13.bk.m.readable ORDER BY seq_id")
      .collect().map(_.getString(0)).mkString
    val origStream = spark.sql(
      "SELECT text FROM graftr13.bk.m.docs ORDER BY id")
      .collect().map(_.getString(0)).mkString("", "<|endoftext|>",
        "<|endoftext|>")
    assert(stream == origStream,
      s"detokenized stream diverges:\n got=${stream.take(120)}…\nwant=${origStream.take(120)}…")

    // eos_special on a whitespace-mode table is refused, not silent
    spark.sql("CALL graftr13.system.bpe_fit(" +
      "'bk.m.docs', 'text', 'bk.m.bpews', 10, 100)")
    val err = intercept[Exception] {
      spark.sql("CALL graftr13.system.tokenize_pack(" +
        "'bk.m.docs', 'id', 'text', 'bk.m.bpews', 'bk.m.seqs3', 16, " +
        "eos_special => '<|endoftext|>')")
    }
    assert(err.getMessage.contains("byte-level"), err.getMessage)

    // regex_filter door: phrase patterns from a caller table gate the
    // corpus map-side; the phrase-carrying docs drop
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val pSchema = StructType(Seq(StructField("pattern", StringType)))
      val pt = m.createTable("pats", pSchema)
      val lp = new java.util.ArrayList[Row]()
      lp.add(Row("(?i)don't\\s+stop"))
      pt.insert(spark.createDataFrame(lp, pSchema).coalesce(1))
    }
    val rf = spark.sql("CALL graftr13.system.regex_filter(" +
      "'bk.m.docs', 'text', 'bk.m.pats', 'bk.m.rkept')").head
    // every generated doc carries "don't stop" except the lone-domain row
    assert(rf.getLong(0) == 1, s"regex_filter kept: $rf")
    assert(spark.sql("SELECT id FROM graftr13.bk.m.rkept").head
      .getLong(0) == 99L)
  }

  test("whitespace dense ids: fit persists alphabet, pack + detokenize invert") {
    val root = Files.createTempDirectory("graft-sqlr14").toString
    val s = new VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val d = m.createTable("docs", docSchema)
      val l = new java.util.ArrayList[Row]()
      // single-space ASCII corpus: whitespace-mode detokenize is exact on
      // it (the mode's only loss is whitespace-run collapse)
      (0 until 12).foreach(i =>
        l.add(Row(i.toLong, s"the cat sat on the mat $i again and again")))
      d.insert(spark.createDataFrame(l, docSchema).coalesce(1))
    }
    spark.conf.set("spark.sql.catalog.graftr14",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr14.root", root)

    // whitespace fit now persists the alphabet as negative-rank rows; the
    // merges stay the rank ≥ 0 rows
    val bf = spark.sql("CALL graftr14.system.bpe_fit(" +
      "'bk.m.docs', 'text', 'bk.m.bpe', 20, 100)").head
    val nMerges = bf.getLong(0)
    val counts = spark.sql(
      """SELECT sum(CASE WHEN rank < 0 THEN 1 ELSE 0 END) AS n_alpha,
        |       sum(CASE WHEN rank >= 0 THEN 1 ELSE 0 END) AS n_merges
        |FROM graftr14.bk.m.bpe""".stripMargin).head
    val nAlpha = counts.getLong(0)
    assert(nAlpha > 0, "fit must persist the alphabet")
    assert(counts.getLong(1) == nMerges)

    // tokenize_pack packs DENSE ids on an alphabet-carrying table: every
    // non-sentinel id sits inside [0, 2 + |alphabet| + n_merges)
    val tp = spark.sql("CALL graftr14.system.tokenize_pack(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bpe', 'bk.m.seqs', 16, -1L)").head
    assert(tp.getLong(0) == (tp.getLong(1) + 15) / 16)
    val idRange = spark.sql(
      """SELECT min(i) AS mn, max(i) AS mx
        |FROM (SELECT explode(token_ids) AS i FROM graftr14.bk.m.seqs)
        |WHERE i <> -1""".stripMargin).head
    assert(idRange.getLong(0) >= 0 && idRange.getLong(1) < 2 + nAlpha + nMerges,
      s"dense ids out of range: $idRange (vocab < ${2 + nAlpha + nMerges})")

    // detokenize now ACCEPTS the whitespace table: the concatenated
    // per-sequence decodes reproduce the original single-space stream
    // (eos sentinels decode to nothing, so documents fuse at boundaries)
    spark.sql("CALL graftr14.system.detokenize(" +
      "'bk.m.seqs', 'token_ids', 'bk.m.bpe', 'bk.m.readable')")
    val stream = spark.sql(
      "SELECT text FROM graftr14.bk.m.readable ORDER BY seq_id")
      .collect().map(_.getString(0)).mkString
    val origStream = spark.sql(
      "SELECT text FROM graftr14.bk.m.docs ORDER BY id")
      .collect().map(_.getString(0)).mkString
    assert(stream == origStream,
      s"ws detokenized stream diverges:\n got=${stream.take(120)}…\n" +
        s"want=${origStream.take(120)}…")

    // a LEGACY alphabet-less whitespace table still packs (xxhash64
    // digests) and still refuses detokenize — the old contract, scoped to
    // exactly the tables that predate dense ids
    val legacyMerges = spark.sql(
      "SELECT rank, `left`, `right`, byte_level FROM graftr14.bk.m.bpe " +
        "WHERE rank >= 0")
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val lt = m.createTable("bpe_legacy", legacyMerges.schema)
      lt.insert(legacyMerges.coalesce(1))
    }
    spark.sql("CALL graftr14.system.tokenize_pack(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bpe_legacy', 'bk.m.seqs_legacy', " +
      "16, -1L)")
    val legacyMax = spark.sql(
      """SELECT max(i) FROM
        |(SELECT explode(token_ids) AS i FROM graftr14.bk.m.seqs_legacy)"""
        .stripMargin).head.getLong(0)
    assert(legacyMax >= 2 + nAlpha + nMerges,
      s"legacy path must keep hash-digest ids, got max=$legacyMax")
    val err = intercept[Exception] {
      spark.sql("CALL graftr14.system.detokenize(" +
        "'bk.m.seqs_legacy', 'token_ids', 'bk.m.bpe_legacy', 'bk.m.nope')")
    }
    assert(err.getMessage.contains("alphabet"), err.getMessage)
  }

  test("CALL detokenize exact_edges: multi-byte chars survive shard cuts") {
    val root = Files.createTempDirectory("graft-sqlr14e").toString
    val s = new VastSession(spark, root)
    s.createBucket("bk")
    val docSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val modelSchema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("byte_level", BooleanType, nullable = false)))
    s.transaction { tx =>
      val m = tx.bucket("bk").createSchema("m")
      val d = m.createTable("docs", docSchema)
      val l = new java.util.ArrayList[Row]()
      // each doc is three 2-byte chars = 6 byte ids + 1 special id: with
      // seq_len 5 the cuts are GUARANTEED to land mid-char repeatedly
      (0 until 6).foreach(i => l.add(Row(i.toLong, "ééé")))
      d.insert(spark.createDataFrame(l, docSchema).coalesce(1))
      // hand-built model: one irrelevant merge, byte_level stamped — ids
      // stay raw byte values so the cut geometry is fully deterministic
      val mt = m.createTable("bpe", modelSchema)
      mt.insert(spark.createDataFrame(
        java.util.List.of(Row(0, "t", "h", true)), modelSchema))
    }
    spark.conf.set("spark.sql.catalog.graftr14e",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr14e.root", root)
    spark.sql("CALL graftr14e.system.tokenize_pack(" +
      "'bk.m.docs', 'id', 'text', 'bk.m.bpe', 'bk.m.seqs', 5, " +
      "eos_special => '<|eot|>')")
    def concat(out: String): String = spark.sql(
      s"SELECT text FROM graftr14e.$out ORDER BY seq_id")
      .collect().map(_.getString(0)).mkString
    val want = (0 until 6).map(_ => "ééé<|eot|>").mkString
    // per-row decode: the mid-char cuts MUST show as U+FFFD (this pins
    // that the fixture really exercises broken edges)
    spark.sql("CALL graftr14e.system.detokenize(" +
      "'bk.m.seqs', 'token_ids', 'bk.m.bpe', 'bk.m.plain', " +
      "eos_special => '<|eot|>')")
    assert(concat("bk.m.plain").contains('�'),
      "fixture did not split any char — cut geometry changed?")
    // exact_edges: byte-exact concat, no replacement chars
    spark.sql("CALL graftr14e.system.detokenize(" +
      "'bk.m.seqs', 'token_ids', 'bk.m.bpe', 'bk.m.exact', " +
      "eos_special => '<|eot|>', exact_edges => true)")
    assert(concat("bk.m.exact") == want)
    // whitespace tables refuse the flag (their ids never split a char)
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      val wt = m.createTable("bpews", modelSchema)
      wt.insert(spark.createDataFrame(
        java.util.List.of(Row(-1, "é", "", false), Row(0, "é", "é", false)),
        modelSchema))
    }
    val err = intercept[Exception] {
      spark.sql("CALL graftr14e.system.detokenize(" +
        "'bk.m.seqs', 'token_ids', 'bk.m.bpews', 'bk.m.nope', " +
        "exact_edges => true)")
    }
    assert(err.getMessage.contains("byte-level"), err.getMessage)
  }
}
