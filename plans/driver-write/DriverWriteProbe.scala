import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.StatsWrite

import graft.api._

/** Times 1000-row driver-held batches through `StatsWrite.parquet` and
  * through `Table.insert`, and records what one insert runs.
  *
  *   DriverWriteProbe <out-dir> <label> [batches]
  *
  * Batches have catalog_ingest's event columns: rows generated by a
  * computed frame, collected and rebuilt with `createDataFrame`, as
  * `CatalogIngest.batch` does. Two phases, each timing `batches` calls
  * after 5 untimed ones:
  *  1. `StatsWrite.parquet` of each batch under `coalesce(1)` (the shape
  *     `Table.writeBatch` hands it), with count, min and max of every column
  *     as the per-file aggregates;
  *  2. `Table.insert` of each batch into a table loaded with 10k rows, one
  *     transaction each.
  * Writes to `<out-dir>`:
  *  - `probe_<label>.txt`: p50 and quartiles of each phase, and the Spark
  *    jobs and tasks per timed call;
  *  - `stats_<label>.txt`: phase 1's per-file aggregates, one line per
  *    batch (file names left out, so two builds' outputs can be diffed);
  *  - `insert_<label>.txt`: the formatted physical plan of every SQL
  *    execution one more (untimed) insert started, each with the jobs it
  *    ran. */
object DriverWriteProbe {
  def main(args: Array[String]): Unit = {
    val (out, label) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 75
    val warm = 5
    val spark = graft.GraftSession.tune(SparkSession.builder().master("local[4]"), 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-driver-write")
    def events(lo: Long, hi: Long, parts: Int) = spark.range(lo, hi, 1L, parts).select(
      col("id").as("event_id"), timestamp_micros(col("id") * 26000000L).as("ts"),
      (col("id") % 97).as("user_id"), concat(lit("t"), col("id") % 5).as("event_type"),
      (col("id") % 1000).cast("double").as("value"),
      concat(lit("{\"k\": "), col("id") % 100, lit("}")).as("props"))
    val schema = events(0, 1, 1).schema
    def batch(i: Int): DataFrame = {
      val lo = 10000L + i * 1000L
      spark.createDataFrame(events(lo, lo + 1000, 1).collect().toSeq.asJava, schema)
    }

    val jobs, tasks = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, String]()
    val jobsOfExec = new ConcurrentHashMap[Long, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobsOfExec.computeIfAbsent(id.toLong, _ => new AtomicInteger)
            .incrementAndGet())
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart =>
          plans.put(st.executionId, st.physicalPlanDescription)
        case _ =>
      }
    })
    def settle(): Unit = Thread.sleep(500) // the listener bus is asynchronous

    /** Times `f` over `warm + n` calls; returns the timed calls' ms and the
      * jobs and tasks they started. */
    def phase(f: Int => Unit): (Seq[Double], Int, Int) = {
      (0 until warm).foreach(f)
      settle()
      val (j0, t0) = (jobs.get, tasks.get)
      val ms = (warm until warm + n).map { i =>
        val s = System.nanoTime(); f(i); (System.nanoTime() - s) / 1e6
      }
      settle()
      (ms, jobs.get - j0, tasks.get - t0)
    }
    def summary(name: String, r: (Seq[Double], Int, Int)): String = {
      val s = r._1.sorted
      def q(p: Double) = s(((s.size - 1) * p).round.toInt)
      f"$label $name: p50 ${q(0.5)}%.1f ms (q1 ${q(0.25)}%.1f, q3 ${q(0.75)}%.1f) " +
        f"over ${s.size} calls; jobs/call ${r._2.toDouble / s.size}%.2f, " +
        f"tasks/call ${r._3.toDouble / s.size}%.2f"
    }

    val aggs = count(lit(1)) +: schema.fieldNames.toSeq.flatMap(c => Seq(min(col(c)), max(col(c))))
    val writes = (0 until warm + n).map(batch(_).coalesce(1))
    val stats = new Array[String](warm + n)
    val p1 = phase { i =>
      val files = StatsWrite.parquet(writes(i), root.resolve(s"w$i").toString, aggs)
      stats(i) = files.map(_._2.toString).mkString(" | ")
    }

    val s = VastSession(spark, root.resolve("catalog").toString)
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m").createTable("ev", schema))
    s.transaction(_.bucket("b").schema("m").table("ev").insert(events(0, 10000, 4)))
    val inserts = (0 to warm + n).map(i => batch(1000 + i))
    def insert(i: Int): Unit = s.transaction(_.bucket("b").schema("m").table("ev").insert(inserts(i)))
    val p2 = phase(insert)
    // one more, untimed, to record its plans
    plans.clear(); jobsOfExec.clear()
    insert(warm + n)
    settle()

    val lines = Seq(summary("StatsWrite.parquet", p1), summary("Table.insert", p2))
    lines.foreach(println)
    def write(name: String, txt: String): Unit =
      Files.write(Paths.get(out, s"${name}_$label.txt"),
        txt.replace(root.toString, "<root>").getBytes("UTF-8"))
    write("probe", lines.mkString("", "\n", "\n"))
    write("stats", stats.mkString("", "\n", "\n"))
    val lastExecs = plans.asScala.toSeq.sortBy(_._1)
    write("insert", lastExecs.zipWithIndex.map { case ((id, p), i) =>
      val j = Option(jobsOfExec.get(id)).map(_.get).getOrElse(0)
      s"=== SQL execution ${i + 1} of ${lastExecs.size}: $j job(s) ===\n$p"
    }.mkString("\n"))
    spark.stop()
  }
}
