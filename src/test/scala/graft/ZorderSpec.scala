package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._

/** Z-order clustering: multi-key zone-map pruning, content preservation,
  * maintain() integration, and the DDL guards. The contrast test pins the
  * reason the feature exists: a single-column sort cannot prune on the
  * second key, the curve can prune on every key. */
class ZorderSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType),
    StructField("s", StringType)))

  private def mkData(n: Int): java.util.List[Row] = {
    val l = new java.util.ArrayList[Row]()
    // genuinely independent keys (divmod of the row index): every x value
    // co-occurs with the full y domain, so locality in one key says NOTHING
    // about the other — the layout has to provide both. A linear-congruence
    // pair would secretly make y a function of x and let a plain sort prune.
    (0 until n).foreach(i => l.add(Row(i % 200L, (i / 200L) * 2L, s"r$i")))
    l
  }

  private def fresh(): VastSession = {
    val root = Files.createTempDirectory("graft-zorder").toString
    val s = VastSession(spark, root)
    s.createBucket("b")
    s
  }

  test("z-order clusters every key: 2-D box and second-key predicates prune") {
    val s = fresh()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", schema)
      t.insert(spark.createDataFrame(mkData(20000), schema))
      val before = t.select(Seq("x", "y", "s")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      t.addClusteringKeys(Seq("x", "y"))
      assert(t.stats.sortingScore == 0.0 && !t.stats.sortingDone)
      t.optimizeZorder(targetFileRows = 1250L) // 20000 rows -> 16 files
      assert(t.stats.sortingScore == 1.0 && t.stats.sortingDone)
      val after = t.select(Seq("x", "y", "s")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(after == before, "z-order rewrite changed table content")

      val all = t.manifest.files
      assert(all.size >= 8, s"want a multi-file layout, got ${all.size}")
      assert(all.forall(f => f.colStats.contains("x") && f.colStats.contains("y")))
      // a tight 2-D box hits a handful of curve segments, not every file
      val box = Table.pruneByZoneMaps(all,
        col("x").between(10L, 30L) && col("y").between(10L, 30L))
      assert(box.size <= all.size / 2,
        s"2-D box kept ${box.size} of ${all.size} files")
      // the second key ALONE prunes too — the property a lead-column sort
      // cannot give
      val yOnly = Table.pruneByZoneMaps(all, col("y") < 25L)
      assert(yOnly.size < all.size,
        s"y-only predicate kept all ${all.size} files")
      val xOnly = Table.pruneByZoneMaps(all, col("x") < 25L)
      assert(xOnly.size < all.size,
        s"x-only predicate kept all ${all.size} files")
      // pruned scans stay exact
      val cnt = t.select(Seq("x", "y"),
        col("x").between(10L, 30L) && col("y").between(10L, 30L)).count()
      val expect = before.count(r => r._1 >= 10 && r._1 <= 30 &&
        r._2 >= 10 && r._2 <= 30)
      assert(cnt == expect, s"pruned scan returned $cnt, want $expect")

      // contrast: same data sorted on x only — y predicates cannot prune
      val t2 = tx.bucket("b").schema("m").createTable("t2", schema)
      t2.insert(spark.createDataFrame(mkData(20000), schema))
      t2.addSortingKey(Seq("x"))
      t2.optimizeSort(targetFileRows = 1250L)
      val all2 = t2.manifest.files
      assert(all2.size >= 8)
      assert(Table.pruneByZoneMaps(all2, col("y") < 25L).size == all2.size,
        "sort-by-x unexpectedly pruned on y — contrast premise broken")
      assert(Table.pruneByZoneMaps(all2, col("x") < 25L).size < all2.size)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("nulls cluster low, maintain() re-clusters after DML churn") {
    val s = fresh()
    s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", schema)
      val l = new java.util.ArrayList[Row]()
      (0 until 500).foreach { i =>
        l.add(Row(if (i % 7 == 0) null else (i * 37L) % 100L,
          (i * 91L) % 100L, s"r$i"))
      }
      t.insert(spark.createDataFrame(l, schema))
      t.addClusteringKeys(Seq("x", "y"))
      t.optimizeZorder()
      assert(t.select(Seq("s")).count() == 500)
      assert(t.select(Seq("s"), col("x").isNull).count() ==
        (0 until 500).count(_ % 7 == 0))
      // new batch lands out of layout; maintain() brings it back
      t.insert(spark.createDataFrame(mkData(300), schema))
      assert(t.stats.sortingScore < 1.0)
      t.maintain()
      assert(t.stats.sortingScore == 1.0 && t.stats.sortingDone)
      assert(t.select(Seq("s")).count() == 800)
    }
  }

  test("timestamp_ntz zone maps prune soundly in a non-UTC session") {
    val s = fresh()
    val tzSchema = StructType(Seq(
      StructField("ts", TimestampNTZType), StructField("v", LongType)))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo") // UTC+9
    try s.transaction { tx =>
      val t = tx.bucket("b").createSchema("m").createTable("t", tzSchema)
      def batch(hour: Int): Unit = {
        val l = new java.util.ArrayList[Row]()
        (0 until 10).foreach(i => l.add(Row(
          java.time.LocalDateTime.of(2024, 1, 1, hour, i), i.toLong)))
        t.insert(spark.createDataFrame(l, tzSchema).coalesce(1))
      }
      batch(2); batch(10); batch(20) // three files, disjoint wall-clock hours
      val all = t.manifest.files
      assert(all.size == 3 && all.forall(_.colStats.contains("ts")))
      val pred = col("ts") >= lit(java.time.LocalDateTime.of(2024, 1, 1, 10, 0)) &&
        col("ts") < lit(java.time.LocalDateTime.of(2024, 1, 1, 11, 0))
      // soundness: a session-tz-dependent stat would shift by -9h here and
      // prune the 10:xx file; the scan must still return all 10 rows
      assert(t.select(Seq("v"), pred).count() == 10,
        "ntz zone maps over-pruned under a non-UTC session timezone")
      // and the pruning is still effective (not just disabled)
      assert(Table.pruneByZoneMaps(all, pred).size == 1)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("clustering DDL guards and key propagation through column DDL") {
    val s = fresh()
    s.transaction { tx =>
      val m = tx.bucket("b").createSchema("m")
      val t = m.createTable("t", schema)
      t.insert(spark.createDataFrame(mkData(100), schema))
      intercept[NotSupportedCommand](t.optimizeZorder()) // no keys declared
      intercept[NotSupportedCommand](t.addClusteringKeys(Nil))
      intercept[NotSupportedCommand](t.addClusteringKeys(Seq("nope")))
      t.addSortingKey(Seq("x"))
      intercept[NotSupportedCommand](t.addClusteringKeys(Seq("x", "y")))

      intercept[NotSupportedCommand](t.optimizeSort(targetFileRows = 0))

      val t2 = m.createTable("t2", schema)
      t2.addClusteringKeys(Seq("x", "y"))
      intercept[NotSupportedCommand](t2.addSortingKey(Seq("x")))
      intercept[NotSupportedCommand](t2.optimizeZorder(targetFileRows = -1))

      // a user column named like the rewrite's temp column must survive
      val clashSchema = StructType(schema.fields :+
        StructField("__graft_z0", LongType))
      val t3 = m.createTable("t3", clashSchema)
      val l = new java.util.ArrayList[Row]()
      (0 until 50).foreach(i => l.add(Row(i % 10L, i / 10L, s"r$i", i * 7L)))
      t3.insert(spark.createDataFrame(l, clashSchema))
      t3.addClusteringKeys(Seq("x", "y"))
      t3.optimizeZorder()
      val zvals = t3.select(Seq("__graft_z0")).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(zvals == (0 until 50).map(_ * 7L).sorted,
        "z-order rewrite clobbered a user column named __graft_z0")
      t2.renameColumn("y", "y2")
      assert(t2.manifest.clusteringKeys == Seq("x", "y2"))
      t2.dropColumn("y2")
      assert(t2.manifest.clusteringKeys == Seq("x"))
    }
  }
}
