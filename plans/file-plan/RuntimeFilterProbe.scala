import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftglue.ZoneMapRuntimeScan
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types._

import graft.api._

/** Wall time of one runtime (join-key) filter, `ZoneMapRuntimeScan.filter`
  * with an `IN` of V distinct longs, against whichever graft classes are on
  * the classpath. The fact table has 16 files, each spanning a million keys
  * (two rows, at both ends), and every key falls inside some file, so no
  * file is pruned and the time is the planner's alone (no inner-scan
  * rebuild). Each (V, repeat) plans a fresh scan; only `filter` is timed.
  * Prints V, the median and min of 5 repeats in ms (one run when it takes
  * over 10 s), and the kept file count. `RuntimeFilterProbe <out-file>`. */
object RuntimeFilterProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-runtime-filter").toString
    val s = VastSession(spark, root)
    spark.conf.set("spark.sql.catalog.gb", "org.apache.spark.sql.graftglue.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gb.root", root)
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m"))
    val ks = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    s.transaction(_.bucket("b").schema("m").createTable("fact", ks))
    for (i <- 0 until 16) s.transaction(_.bucket("b").schema("m").table("fact").insert(
      spark.createDataFrame(java.util.List.of(Row(i * 1000000L, "lo"),
        Row(i * 1000000L + 999999L, "hi")), ks).coalesce(1)))

    def freshScan(): ZoneMapRuntimeScan =
      spark.sql("SELECT * FROM gb.b.m.fact").queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }
        .collectFirst { case z: ZoneMapRuntimeScan => z }.get

    val out = new StringBuilder
    out ++= f"${"keys"}%8s ${"median_ms"}%10s ${"min_ms"}%10s ${"kept"}%5s\n"
    for (v <- Seq(1000, 10000, 100000)) {
      // distinct keys, round-robin over the 16 files' ranges
      val keys: Array[Any] = Array.tabulate(v)(j => (j % 16) * 1000000L + j / 16)
      def run(): (Double, Int) = {
        val scan = freshScan()
        val t0 = System.nanoTime()
        scan.filter(Array[Filter](In("k", keys)))
        ((System.nanoTime() - t0) / 1e6, scan.keptFileCount)
      }
      // a call over 10 s is reported alone, not repeated
      val first = run()
      val runs = if (first._1 > 10000) Seq(first) else first +: Seq.fill(4)(run())
      val ms = runs.map(_._1).sorted
      out ++= f"$v%8d ${ms(ms.size / 2)}%10.1f ${ms.head}%10.1f ${first._2}%5d\n"
    }
    Files.write(java.nio.file.Paths.get(args(0)), out.toString.getBytes("UTF-8"))
    print(out)
    spark.stop()
  }
}
