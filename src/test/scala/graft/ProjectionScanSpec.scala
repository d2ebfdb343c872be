package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api._

/** A fresh projection on a table changes which files a COVERED SQL scan
  * reads and nothing else: scans the projection does not cover keep every
  * pruning layer of the plain table — static zone-map file pruning and
  * runtime (join-key) file pruning alike. */
class ProjectionScanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("s", StringType)))

  /** `files` single-file commits over disjoint key ranges: file i holds
    * a = i*1000 + j for j < rows (tight, non-overlapping zone maps on a). */
  private def rangeTable(tag: String, files: Int, rows: Int)
      : (VastSession, String) = {
    val root = Files.createTempDirectory(s"graft-projscan-$tag").toString
    val s = VastSession(spark, root)
    s.createBucket("bk")
    s.transaction { tx =>
      val t = tx.bucket("bk").createSchema("m").createTable("t", schema)
      (0 until files).foreach { i =>
        val l = new java.util.ArrayList[Row]()
        (0 until rows).foreach(j => l.add(Row(i * 1000L + j, s"r$i-$j")))
        t.insert(spark.createDataFrame(l, schema).repartition(1))
      }
      assert(t.manifest.files.size == files, t.manifest.files.size)
    }
    val cat = s"gps$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (s, cat)
  }

  test("an uncovered SQL scan of a projection-bearing table prunes by zone maps") {
    val (s, cat) = rangeTable("zm", files = 4, rows = 10)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t")
        .createProjection("pa", Seq("a"), Seq("a"))
    }
    // `s` is not in the projection: the base files serve, pruned to one
    val uncovered = spark.sql(s"SELECT a, s FROM $cat.bk.m.t WHERE a = 2005")
    val plan = uncovered.queryExecution.executedPlan.toString
    assert(plan.contains("ZoneMap(1 files)"), s"no file pruning:\n$plan")
    assert(!plan.contains("_proj/"), s"projection served an uncovered scan:\n$plan")
    assert(uncovered.collect().toSeq == Seq(Row(2005L, "r2-5")))
    // a covered scan still reads the projection
    val covered = spark.sql(s"SELECT a FROM $cat.bk.m.t WHERE a = 2005")
    val cplan = covered.queryExecution.executedPlan.toString
    assert(cplan.contains("_proj/pa-"), s"projection not routed:\n$cplan")
    assert(covered.collect().toSeq == Seq(Row(2005L)))
  }

  test("a star join over a projection-bearing fact still runtime-prunes fact files") {
    val (s, cat) = rangeTable("dpp", files = 8, rows = 20)
    val dimSchema = StructType(Seq(
      StructField("a", LongType), StructField("attr", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("bk").schema("m")
      m.table("t").createProjection("pa", Seq("a"), Seq("a"))
      val l = new java.util.ArrayList[Row]()
      // one dim key per fact file; only the keys in files 1 and 6 survive
      (0 until 8).foreach(i => l.add(
        Row(i * 1000L + 5L, if (i == 1 || i == 6) "pick" else "skip")))
      m.createTable("dim", dimSchema).insert(spark.createDataFrame(l, dimSchema))
    }
    val df = spark.sql(
      s"""SELECT f.a, f.s FROM $cat.bk.m.t f
         |JOIN $cat.bk.m.dim d ON f.a = d.a
         |WHERE d.attr = 'pick' ORDER BY f.a""".stripMargin)
    assert(df.collect().toSeq == Seq(Row(1005L, "r1-5"), Row(6005L, "r6-5")))
    val plan = df.queryExecution.executedPlan.toString
    val pruned = "runtime-pruned (\\d+)->(\\d+) files".r.findFirstMatchIn(plan)
    assert(pruned.map(m => (m.group(1), m.group(2))).contains(("8", "2")),
      s"fact files not runtime-pruned 8->2:\n$plan")
  }
}
