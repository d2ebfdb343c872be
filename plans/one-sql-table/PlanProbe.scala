import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
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
    def save(name: String, sql: String): Unit = {
      val df = spark.sql(sql)
      val rows = df.collect()
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val txt = s"-- $sql\n-- result: ${rows.mkString(", ")}\n\n" +
        plan.replace(root, "<root>")
      Files.write(java.nio.file.Paths.get(out, name), txt.getBytes("UTF-8"))
    }
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
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").createTable("t", schema)
      (0 until 4).foreach { i =>
        val l = new java.util.ArrayList[Row]()
        (0 until 10).foreach(j => l.add(Row(i * 1000L + j, s"r$i-$j")))
        t.insert(spark.createDataFrame(l, schema).repartition(1))
      }
    }
    val q = "SELECT a, s FROM gb.b.m.t WHERE a = 2005"
    save("probe_no_projection.txt", q)
    s.transaction(_.bucket("b").schema("m").table("t").createProjection("pa", Seq("a"), Seq("a")))
    save("probe_with_projection.txt", q)
    save("probe_covered.txt", "SELECT a FROM gb.b.m.t WHERE a = 2005")
    spark.stop()
  }
}
