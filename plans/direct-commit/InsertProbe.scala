import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.api._

/** Times catalog_ingest-shaped driver-held inserts and records what one of
  * them plans and leaves on disk.
  *
  *   InsertProbe <out-dir> <label> [inserts]
  *
  * Loads a 10k-row events table (a computed 4-partition frame), then runs
  * `inserts` 1000-row inserts of rows collected to the driver and rebuilt
  * with `createDataFrame`, one transaction each. Writes to `<out-dir>`:
  *  - `insert_<label>.txt`: the formatted physical plans of the SQL
  *    executions the last insert started, and the files its batch
  *    directory holds;
  * and prints one line `PHASE start=<epoch ms> end=<epoch ms> n=<inserts>`
  * around the timed inserts (the window to count JFR events in) and one
  * line with the median insert time over all but the first five. */
object InsertProbe {
  def main(args: Array[String]): Unit = {
    val (out, label) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 40
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-insert-probe")
    val s = VastSession(spark, root.toString)
    def events(lo: Long, hi: Long, parts: Int) = spark.range(lo, hi, 1L, parts).select(
      col("id").as("event_id"), timestamp_micros(col("id") * 26000000L).as("ts"),
      (col("id") % 97).as("user_id"), concat(lit("t"), col("id") % 5).as("event_type"),
      (col("id") % 1000).cast("double").as("value"),
      concat(lit("{\"k\": "), col("id") % 100, lit("}")).as("props"))
    val schema = events(0, 1, 1).schema
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m").createTable("ev", schema))
    s.transaction(_.bucket("b").schema("m").table("ev").insert(events(0, 10000, 4)))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart => plans.add(st.physicalPlanDescription)
        case _ =>
      }
    })
    val batches = (0 until n).map { i =>
      val lo = 10000L + i * 1000L
      spark.createDataFrame(events(lo, lo + 1000, 1).collect().toSeq.asJava, schema)
    }
    val start = System.currentTimeMillis()
    val ms = batches.map { b =>
      plans.clear()
      val t0 = System.nanoTime()
      s.transaction(_.bucket("b").schema("m").table("ev").insert(b))
      (System.nanoTime() - t0) / 1e6
    }
    val end = System.currentTimeMillis()
    println(s"PHASE start=$start end=$end n=$n")
    val timed = ms.drop(5).sorted
    println(f"$label: median insert ${timed(timed.size / 2)}%.1f ms over ${timed.size} inserts")
    val batchDir = s.transaction { tx =>
      val t = tx.bucket("b").schema("m").table("ev")
      t.dir.resolve(t.manifest.files.last.path).getParent
    }
    val listing = Files.list(batchDir).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted.mkString("\n")
    Thread.sleep(1000) // the listener bus delivers events asynchronously
    val txt = plans.asScala.zipWithIndex.map { case (p, i) =>
      s"=== SQL execution ${i + 1} of ${plans.size} ===\n$p"
    }.mkString("\n") + s"\n=== files in the batch directory ===\n$listing\n"
    Files.write(Paths.get(out, s"insert_$label.txt"),
      txt.replace(root.toString, "<root>").getBytes("UTF-8"))
    spark.stop()
  }
}
