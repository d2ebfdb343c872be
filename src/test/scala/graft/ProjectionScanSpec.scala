package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api._

/** A fresh projection on a table changes which files a COVERED SQL scan
  * reads and nothing else: scans the projection does not cover keep every
  * pruning layer of the plain table — static zone-map file pruning and
  * runtime (join-key) file pruning alike. A lazy rename of the key column
  * (files keep their physical name, zone maps stay keyed by it) keeps them
  * too. */
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

  /** A point lookup on `key` of a 4-file range table plans one file. */
  private def assertPrunedToOne(cat: String, key: String): Unit = {
    val df = spark.sql(s"SELECT $key, s FROM $cat.bk.m.t WHERE $key = 2005")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ZoneMap(1 files)"), s"no file pruning:\n$plan")
    assert(!plan.contains("_proj/"), s"projection served an uncovered scan:\n$plan")
    assert(df.collect().toSeq == Seq(Row(2005L, "r2-5")))
  }

  test("an uncovered SQL scan of a projection-bearing table prunes by zone maps") {
    val (s, cat) = rangeTable("zm", files = 4, rows = 10)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("t")
        .createProjection("pa", Seq("a"), Seq("a"))
    }
    // `s` is not in the projection: the base files serve, pruned to one
    assertPrunedToOne(cat, "a")
    // a covered scan still reads the projection
    val covered = spark.sql(s"SELECT a FROM $cat.bk.m.t WHERE a = 2005")
    val cplan = covered.queryExecution.executedPlan.toString
    assert(cplan.contains("_proj/pa-"), s"projection not routed:\n$cplan")
    assert(covered.collect().toSeq == Seq(Row(2005L)))
    // a renamed key prunes through the files' physical-name zone maps
    val (rs, rcat) = rangeTable("zmrename", files = 4, rows = 10)
    rs.transaction(_.bucket("bk").schema("m").table("t").renameColumn("a", "k"))
    assertPrunedToOne(rcat, "k")
  }

  test("a star join over a projection-bearing fact still runtime-prunes fact files") {
    // (name, evolution of the 8-file fact returning its key column, the
    // fact files whose dim keys are picked, the fact's file count after)
    val evolutions: Seq[(String, Table => String, Seq[Int], Int)] = Seq(
      ("projection",
        { t => t.createProjection("pa", Seq("a"), Seq("a")); "a" }, Seq(1, 6), 8),
      ("rename", { t => t.renameColumn("a", "k"); "k" }, Seq(1, 6), 8),
      // file 8, written after the rename, is rename-free: a runtime prune
      // down to it alone must still read through the static plan's groups
      ("renameinsert", { t =>
        t.renameColumn("a", "k")
        val l = new java.util.ArrayList[Row]()
        (0 until 20).foreach(j => l.add(Row(8000L + j, s"r8-$j")))
        t.insert(spark.createDataFrame(l, t.schema).repartition(1))
        "k"
      }, Seq(8), 9))
    for ((name, evolve, picks, files) <- evolutions) {
      val (s, cat) = rangeTable(s"dpp$name", files = 8, rows = 20)
      val dimSchema = StructType(Seq(
        StructField("a", LongType), StructField("attr", StringType)))
      val key = s.transaction { tx =>
        val m = tx.bucket("bk").schema("m")
        val l = new java.util.ArrayList[Row]()
        // one dim key per fact file (file 8 only exists after renameinsert);
        // only the keys in the picked files survive
        (0 to 8).foreach(i => l.add(
          Row(i * 1000L + 5L, if (picks.contains(i)) "pick" else "skip")))
        m.createTable("dim", dimSchema).insert(spark.createDataFrame(l, dimSchema))
        evolve(m.table("t"))
      }
      val df = spark.sql(
        s"""SELECT f.$key, f.s FROM $cat.bk.m.t f
           |JOIN $cat.bk.m.dim d ON f.$key = d.a
           |WHERE d.attr = 'pick' ORDER BY f.$key""".stripMargin)
      assert(df.collect().toSeq == picks.map(i => Row(i * 1000L + 5L, s"r$i-5")))
      val plan = df.queryExecution.executedPlan.toString
      val pruned = "runtime-pruned (\\d+)->(\\d+) files".r.findFirstMatchIn(plan)
      val want = (files.toString, picks.size.toString)
      assert(pruned.map(m => (m.group(1), m.group(2))).contains(want),
        s"$name: fact files not runtime-pruned ${want._1}->${want._2}:\n$plan")
    }
  }
}
