import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{GroupPartition, ZoneMapRuntimeScan}
import org.apache.spark.sql.types._

import graft.api._

/** Planned-file counts, one query per reader, against whichever graft
  * classes are on the classpath; prints one line per query. Uses only API
  * present before and after the file planner, so the same source runs on
  * both sides. `FilePlanProbe <out-file>`. */
object FilePlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-file-plan").toString
    val s = VastSession(spark, root)
    spark.conf.set("spark.sql.catalog.gb", "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gb.root", root)
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m"))
    val out = new StringBuilder
    def line(reader: String, query: String, planned: String, rows: Long, truth: Long): Unit =
      out ++= f"$reader%-22s $query%-52s $planned%-9s $rows%5d $truth%5d\n"
    out ++= f"${"reader"}%-22s ${"query"}%-52s ${"files"}%-9s ${"rows"}%5s ${"truth"}%5s\n"
    def table(name: String) = s.transaction(_.bucket("b").schema("m").table(name).manifest)
    def paths(name: String): Set[String] = table(name).files.map(_.path).toSet
    def sqlKept(df: DataFrame): Int = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.scan }
      .collect { case z: ZoneMapRuntimeScan => z.keptFileCount }.sum

    // bk: SpjSpec's bucketed table, 16 files (2 per bucket, hash-spread keys)
    val kv = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val keys = (0 until 4000).map(i => ((i * 2654435761L + 9) % 997).abs)
    s.transaction(_.bucket("b").schema("m").createTable("bk", kv).insert(spark.createDataFrame(
      java.util.List.of(keys.zipWithIndex.map { case (k, i) => Row(k, i * 1.0 + 9) }: _*), kv)))
    s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("bk")
      t.addBucketLayout(8, Seq("k"))
      t.optimizeBuckets(250)
    }
    // r: four single-file commits over disjoint ranges of a (v1..v4), then one more
    val as = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    s.transaction(_.bucket("b").schema("m").createTable("r", as))
    for (i <- 0 to 4) s.transaction(_.bucket("b").schema("m").table("r").insert(
      spark.createDataFrame(java.util.List.of((0 until 10).map(j =>
        Row(i * 1000L + j, s"r$i-$j")): _*), as).coalesce(1)))

    s.transaction { tx =>
      val bk = tx.bucket("b").schema("m").table("bk")
      val n = table("bk").files.size
      val in = bk.select(Seq("k", "v"), col("k").isin(123L, 456L, 789L))
      line("api.select", "bk WHERE k IN (123, 456, 789)", s"${in.inputFiles.length}/$n",
        in.count(), keys.count(Set(123L, 456L, 789L)).toLong)
      val intLit = bk.select(Seq("k"), col("k") === 123)
      line("api.select", "bk WHERE k = 123 (an Int literal)", s"${intLit.inputFiles.length}/$n",
        intLit.count(), keys.count(_ == 123L).toLong)
      val r = tx.bucket("b").schema("m").table("r")
      val frac = r.select(Seq("a"), col("a") < 1000.5)
      line("api.select", "r WHERE a < 1000.5", s"${frac.inputFiles.length}/5",
        frac.count(), 11L)
      val at = r.selectAt(4, Nil, col("a") === 2005L)
      line("api.selectAt", "r AS OF v4 WHERE a = 2005", s"${at.inputFiles.length}/4",
        at.count(), 1L)
    }

    val sqlIn = spark.sql("SELECT * FROM gb.b.m.r WHERE a IN (5, 3005)")
    line("sql.scan", "r WHERE a IN (5, 3005)", s"${sqlKept(sqlIn)}/5", sqlIn.count(), 2L)

    // the runtime star join: RuntimeFilterSpec's fact (8 files) and dim
    val ks = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    s.transaction { tx =>
      val m = tx.bucket("b").schema("m")
      val fact = m.createTable("fact", ks)
      (0 until 8).foreach(i => fact.insert(spark.createDataFrame(java.util.List.of(
        (0 until 100).map(j => Row(i * 100L + j, s"f$i-$j")): _*), ks).repartition(1)))
      m.createTable("dim", ks).insert(spark.createDataFrame(java.util.List.of(
        (0 until 8).map(i => Row(i * 100L + 50L, if (i == 1 || i == 6) "pick" else "skip")): _*), ks))
    }
    val star = spark.sql("SELECT f.k, f.v FROM gb.b.m.fact f JOIN gb.b.m.dim d " +
      "ON f.k = d.k WHERE d.v = 'pick'")
    val starRows = star.collect().length.toLong
    val rt = "runtime-pruned (\\d+)->(\\d+) files".r
      .findFirstMatchIn(star.queryExecution.executedPlan.toString)
      .map(m => s"${m.group(2)}/${m.group(1)}").getOrElse("none")
    line("sql.runtime_filter", "fact JOIN dim ON k WHERE dim.v = 'pick'", rt, starRows, 2L)

    val before = paths("bk")
    spark.sql("UPDATE gb.b.m.bk SET v = -1.0 WHERE k = 123")
    val rewritten = (before -- paths("bk")).size
    line("sql.update (COW)", "UPDATE bk SET v = -1 WHERE k = 123", s"$rewritten/${before.size}",
      spark.sql("SELECT * FROM gb.b.m.bk WHERE v = -1.0").count(), keys.count(_ == 123L).toLong)

    // the changefeed batch of plans/rename-scan: r renamed a -> k, one more file
    s.transaction(_.bucket("b").schema("m").table("r").renameColumn("a", "k"))
    s.transaction(_.bucket("b").schema("m").table("r").insert(spark.createDataFrame(
      java.util.List.of(Row(5000L, "r5-0")), StructType(Seq(
        StructField("k", LongType), StructField("s", StringType))))))
    val feed = spark.read.format("graft").option("startingVersion", "earliest")
      .load(Paths.get(root, "b", "m", "r").toString).where(col("k") >= 2000)
    val feedFiles = feed.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions
    }.flatten.map {
      case GroupPartition(fp: FilePartition, _) => fp.files.length
      case _ => 1
    }.sum
    line("changefeed.batch", "r from earliest WHERE k >= 2000", s"$feedFiles/6",
      feed.count(), 31L)

    Files.write(Paths.get(args(0)), out.toString.getBytes("UTF-8"))
    print(out)
    spark.stop()
  }
}
