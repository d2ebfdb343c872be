import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._

object PlanProbe {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-probe").toString
    val s = VastSession(spark, root)
    spark.conf.set("spark.sql.catalog.gb", "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gb.root", root)
    def saveDf(name: String, query: String, df: DataFrame, extra: String = ""): Unit = {
      val rows = df.collect()
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val txt = s"-- $query\n-- result: ${rows.mkString(", ")}\n\n" +
        (plan + extra).replace(root, "<root>")
      Files.write(java.nio.file.Paths.get(out, name), txt.getBytes("UTF-8"))
    }
    def save(name: String, sql: String): Unit = saveDf(name, sql, spark.sql(sql))
    // the planned input partitions of every batch scan, one line each: the
    // files (and byte ranges) behind each partition's rename-group wrapper
    def partitions(df: DataFrame): String = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.flatten.zipWithIndex.map { case (p, i) =>
      val files = p.asInstanceOf[Product].productElement(0) match {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(f => s"${f.filePath.toString.split('/').takeRight(2).mkString("/")}" +
            s" [${f.start}, +${f.length}]").mkString(", ")
        case other => other.toString
      }
      s"partition $i (${p.getClass.getSimpleName}): $files"
    }.mkString("\n== Input partitions ==\n", "\n", "\n")
    // catalog_ingest-shaped events table: a computed 4-partition initial
    // load (4 files) plus one 1000-row driver-held insert (1 file)
    def events(lo: Long, hi: Long, parts: Int) = spark.range(lo, hi, 1L, parts).select(
      col("id").as("event_id"), timestamp_micros(col("id") * 26000000L).as("ts"),
      (col("id") % 97).as("user_id"), concat(lit("t"), col("id") % 5).as("event_type"),
      (col("id") % 1000).cast("double").as("value"),
      concat(lit("{\"k\": "), col("id") % 100, lit("}")).as("props"))
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m").createTable("ev", events(0, 1, 1).schema))
    s.transaction(_.bucket("b").schema("m").table("ev").insert(events(0, 4000, 4)))
    val local = events(4000, 5000, 1).collect()
    s.transaction(_.bucket("b").schema("m").table("ev").insert(
      spark.createDataFrame(java.util.Arrays.asList(local: _*), events(0, 1, 1).schema)))
    save("ryw_sql.txt", "SELECT count(*), sum(event_id), sum(value) FROM gb.b.m.ev " +
      "WHERE event_id BETWEEN 4000 AND 4999")
    // the probe: 4 single-file commits over disjoint ranges of a
    val schema = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    def rangeTable(name: String): Unit = s.transaction { tx =>
      val t = tx.bucket("b").schema("m").createTable(name, schema)
      (0 until 4).foreach { i =>
        val l = new java.util.ArrayList[Row]()
        (0 until 10).foreach(j => l.add(Row(i * 1000L + j, s"r$i-$j")))
        t.insert(spark.createDataFrame(l, schema).repartition(1))
      }
    }
    rangeTable("t")
    val q = "SELECT a, s FROM gb.b.m.t WHERE a = 2005"
    save("probe_no_projection.txt", q)
    s.transaction(_.bucket("b").schema("m").table("t").createProjection("pa", Seq("a"), Seq("a")))
    save("probe_with_projection.txt", q)
    save("probe_covered.txt", "SELECT a FROM gb.b.m.t WHERE a = 2005")
    // the rename probe: the same table shape, then a lazy rename of a
    rangeTable("r")
    save("probe_unrenamed.txt", "SELECT a, s FROM gb.b.m.r WHERE a = 2005")
    s.transaction(_.bucket("b").schema("m").table("r").renameColumn("a", "k"))
    s.transaction(_.bucket("b").schema("m").table("r").insert(spark.createDataFrame(
      java.util.List.of(Row(4000L, "r4-0")), StructType(Seq(
        StructField("k", LongType), StructField("s", StringType))))))
    save("probe_renamed.txt", "SELECT k, s FROM gb.b.m.r WHERE k = 2005")
    // one changefeed batch over the renamed table: every commit from the
    // start, five files in two rename groups
    val feed = spark.read.format("graft").option("startingVersion", "earliest")
      .load(s"$root/b/m/r").where(col("k") >= 2000)
    saveDf("feed_renamed.txt", "graft changefeed batch of b.m.r, startingVersion " +
      "earliest, WHERE k >= 2000", feed, partitions(feed))
    spark.stop()
  }
}
