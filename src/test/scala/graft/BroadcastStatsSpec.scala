package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.types._

import graft.api._

/** Every catalog table shape must report statistics to the static planner:
  * a wrapper scan that hides its delegate's `SupportsReportStatistics`
  * makes Spark assume `defaultSizeInBytes` (~Long.Max) for the relation,
  * so a tiny dim table silently stops broadcasting — plans degrade to
  * sort-merge joins and broadcast-reuse DPP dies with them (the round-8
  * regression). Pin static broadcast planning through the catalog table
  * class (ZoneMapTable) and all three scan shapes: plain, projection-routed
  * (a covered scan reads the projection's files) and rename-evolved (the
  * kept files are read per rename group). */
class BroadcastStatsSpec extends SparkSpec {

  private val factSchema = StructType(Seq(
    StructField("k", LongType), StructField("payload", StringType)))
  private val dimSchema = StructType(Seq(
    StructField("k", LongType), StructField("attr", StringType)))

  /** The static (pre-AQE) plan must contain a BroadcastHashJoin whose
    * BUILD side is the dim scan — that only happens when the dim
    * relation's reported size is real and small; with unknown stats the
    * planner would either sort-merge or build on the fact. */
  private def assertDimBroadcast(sql: String, dimName: String): Unit = {
    val qe = spark.sql(sql).queryExecution
    val bhj = qe.sparkPlan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"no static BroadcastHashJoin:\n${qe.sparkPlan}")
    val build = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.right
    }
    assert(build.toString.contains(dimName),
      s"build side is not the dim scan:\n$build")
  }

  private def seed(s: VastSession): Unit = {
    s.createBucket("bk")
    s.transaction { tx =>
    val m = tx.bucket("bk").createSchema("m")
    val fact = m.createTable("fact", factSchema)
    val rows = new java.util.ArrayList[Row]()
    (0 until 5000).foreach(i => rows.add(Row(i % 40L, s"payload-$i-" + "x" * 40)))
    fact.insert(spark.createDataFrame(rows, factSchema))
    val dim = m.createTable("dim", dimSchema)
    val dimRows = new java.util.ArrayList[Row]()
    (0 until 40).foreach(i => dimRows.add(Row(i.toLong, s"attr-$i")))
    dim.insert(spark.createDataFrame(dimRows, dimSchema))
  } }

  test("plain (zone-map) dim reports stats and broadcasts statically") {
    val root = Files.createTempDirectory("graft-bstats1").toString
    seed(VastSession(spark, root))
    spark.conf.set("spark.sql.catalog.gbs1",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gbs1.root", root)
    assertDimBroadcast(
      """SELECT f.k, f.payload, d.attr FROM gbs1.bk.m.fact f
        |JOIN gbs1.bk.m.dim d ON f.k = d.k""".stripMargin, "dim")
  }

  test("rename-evolved dim reports stats and broadcasts statically") {
    val root = Files.createTempDirectory("graft-bstats2").toString
    val s = VastSession(spark, root)
    seed(s)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("dim").renameColumn("attr", "label")
    }
    spark.conf.set("spark.sql.catalog.gbs2",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gbs2.root", root)
    assertDimBroadcast(
      """SELECT f.k, f.payload, d.label FROM gbs2.bk.m.fact f
        |JOIN gbs2.bk.m.dim d ON f.k = d.k""".stripMargin, "dim")
  }

  test("projection-routed dim reports stats and broadcasts statically") {
    val root = Files.createTempDirectory("graft-bstats3").toString
    val s = VastSession(spark, root)
    seed(s)
    s.transaction { tx =>
      tx.bucket("bk").schema("m").table("dim")
        .createProjection("pk", Seq("k", "attr"), Seq("k"))
    }
    spark.conf.set("spark.sql.catalog.gbs3",
      "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gbs3.root", root)
    assertDimBroadcast(
      """SELECT f.k, f.payload, d.attr FROM gbs3.bk.m.fact f
        |JOIN gbs3.bk.m.dim d ON f.k = d.k""".stripMargin, "dim")
  }
}
