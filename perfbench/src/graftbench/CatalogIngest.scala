package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.{Table, VastSession}

/**
 * catalog_ingest: seeded DML transactions on one catalog events table, in a
 * fixed insert-heavy mix (three inserts, an update, three inserts, a
 * delete). After each: one read-your-write read through `Table.select`, one
 * through SQL, then an incremental AvailableNow changefeed drain from a
 * persistent checkpoint. After each round of the mix (K = 8 commits),
 * `maintain()` and `vacuumVersions` run in a transaction of their own and
 * the table is checked against a driver-side model (live keys and values).
 * The window holds whole rounds, so every run sees the same mix.
 */
final class CatalogIngest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val g = new Gen(spark, ctx.seed)
  private val vs = VastSession(spark, ctx.work.resolve("cat").toString)
  private val root = ctx.work.resolve("cat")
  private val tableDir = root.resolve("b").resolve("m").resolve("ev")
  private val ckpt = ctx.work.resolve("feed-ckpt").toString
  private val plainDir = ctx.work.resolve("plain")

  val initialRows = 100000L
  val batchRows = 1000
  val updateSpan = 300
  val deleteSpan = 100
  private val mix = "IIIUIIID"
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  /** Low 32 bits of a row hash: sums over any feed batch stay exact. */
  private val rowHash: Column = xxhash64(cols.map(col): _*).bitwiseAND(0xFFFFFFFFL)

  // driver-side model of the table: live flag and value per event_id
  private val live = new java.util.BitSet(initialRows.toInt)
  private var value = new Array[Double](initialRows.toInt)
  private var nextId = initialRows
  private val r = g.rng(300)

  // per-window accounting, cleared by reset()
  private var rowsChanged = 0L
  private val feedLagMs = ArrayBuffer.empty[Double]
  private val filesRewritten = ArrayBuffer.empty[Double]
  private val srcMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var srcRows = 0L
  private var drains = 0
  private var plainBatchBytes = 0L
  private var inserts = 0
  private var matched = 0L
  private var writtenBytes = 0L
  private val seen = mutable.Map.empty[String, Long]

  /** DML commits; the maintenance transaction's periodic stall has its own
    * per-layer median (`commit.maintain.p50_ms`). */
  def primary(cls: String): Boolean =
    cls.startsWith("commit.") && cls != "commit.maintain"

  private def table[T](f: Table => T): T = vs.transaction { tx =>
    f(Trace.span("api.table")(tx.bucket("b").schema("m").table("ev")))
  }

  /** One DML transaction: the call plus `tx.commit()`, timed as one op. */
  private def dml(f: Table => Unit): Unit = {
    val tx = vs.beginTransaction()
    try {
      val t = Trace.span("api.table")(tx.bucket("b").schema("m").table("ev"))
      f(t)
      Trace.span("api.commit")(tx.commit())
    } catch { case e: Throwable => tx.rollback(); throw e }
  }

  private def setValue(id: Int, v: Double): Unit = {
    if (id >= value.length) value = java.util.Arrays.copyOf(value, math.max(id + 1, 2 * value.length))
    value(id) = v
  }

  private def modelIn(lo: Long, hi: Long): (Long, Long, Double) = {
    var n = 0L; var keys = 0L; var vals = 0.0
    var i = live.nextSetBit(lo.toInt)
    while (i >= 0 && i < hi) { n += 1; keys += i; vals += value(i); i = live.nextSetBit(i + 1) }
    (n, keys, vals)
  }

  /** Generates events `[lo, hi)`, records them in the model, and returns
    * them as a local batch plus their changefeed fingerprint. */
  private def batch(lo: Long, hi: Long): (DataFrame, (Long, Long, Long)) = {
    val df = g.events(lo, hi, 1).withColumn("_h", rowHash)
    val rows = df.collect()
    rows.foreach { x => val id = x.getLong(0).toInt; live.set(id); setValue(id, x.getDouble(4)) }
    val local = spark.createDataFrame(rows.map(x => Row(x.toSeq.init: _*)).toSeq.asJava,
      df.drop("_h").schema)
    (local, (rows.length.toLong, rows.map(_.getLong(0)).sum, rows.map(_.getLong(6)).sum))
  }

  def setup(): Unit = {
    vs.createBucket("b")
    vs.transaction(_.bucket("b").createSchema("m").createTable("ev", g.events(0, 1).schema))
    val initial = g.events(0L, initialRows)
    initial.select("event_id", "value").collect().foreach { x =>
      live.set(x.getLong(0).toInt); setValue(x.getLong(0).toInt, x.getDouble(1))
    }
    vs.transaction(_.bucket("b").schema("m").table("ev").insert(initial))
    Main.note("initial load committed")
    drain() // the feed consumer catches up with the initial load
    measureWrites()
    Main.note("changefeed caught up")
    // write amplification's denominator: one batch written once as plain parquet
    batch(nextId, nextId + batchRows)._1.coalesce(1).write.parquet(plainDir.toString)
    live.clear(nextId.toInt, (nextId + batchRows).toInt)
    plainBatchBytes = Files.list(plainDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    // warm-up: one transaction of each kind, each followed by its reads
    // and drain, before anything is timed
    Main.note("plain batch written")
    val warm = new Ops(60000.0)
    "IUDM".foreach(step(warm, _))
    if (warm.failed > 0) throw new IllegalStateException(warm.failures.mkString("; "))
    Main.note("warm-up done")
  }

  def reset(): Unit = {
    rowsChanged = 0L; feedLagMs.clear(); filesRewritten.clear(); srcMs.clear()
    srcRows = 0L; drains = 0; inserts = 0; writtenBytes = 0L; matched = 0L
  }

  /** Drains the changefeed through an AvailableNow trigger; returns the
    * per-batch rows the consumer emitted and the time the last one ended. */
  private def drain(pred: Column = lit(false)): (Seq[Row], Long) = {
    val emitted = ArrayBuffer.empty[Row]
    var lastEmitNs = System.nanoTime()
    val q = Trace.span("sources.start")(spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(tableDir.toString)
      .select(cols.map(col): _*)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        emitted += df.agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
          coalesce(sum(rowHash), lit(0L)), count(when(pred, 1)),
          coalesce(sum(when(pred, col("value"))), lit(0.0))).head()
        lastEmitNs = System.nanoTime()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())
    Trace.span("sources.await")(q.awaitTermination())
    drains += 1
    q.recentProgress.foreach { p =>
      val d = p.durationMs.asScala
      Seq("latestOffset", "getBatch", "addBatch").foreach(k =>
        srcMs(k) += d.get(k).map(_.doubleValue).getOrElse(0.0))
      srcRows += p.numInputRows
    }
    (emitted.toSeq, lastEmitNs)
  }

  /** Bytes of every file that appeared under the catalog root since the
    * last call (each file counted once, even if vacuum later removes it). */
  private def measureWrites(): Unit = Files.walk(root).iterator().asScala
    .filter(Files.isRegularFile(_)).foreach { p =>
      val k = p.toString
      if (!seen.contains(k)) { val b = Files.size(p); seen(k) = b; writtenBytes += b }
    }

  private def files(): Set[String] = table(_.manifest.files.map(_.path).toSet)

  private def step(ops: Ops, kind: Char): Unit = {
    val (cls, lo, hi, pred, feedWant) = kind match {
      case 'I' =>
        val (lo, hi) = (nextId, nextId + batchRows)
        nextId = hi
        val (df, fp) = batch(lo, hi)
        val ok = ops.run("commit.insert") {
          dml(t => Trace.span("dml.insert")(t.insert(df)))
        }(_ => None)
        if (ok.isEmpty) { live.clear(lo.toInt, hi.toInt); return }
        rowsChanged += batchRows
        inserts += 1
        ("insert", lo, hi, lit(false), Some(fp))
      case 'U' =>
        val lo = r.nextInt((nextId - updateSpan).toInt).toLong
        val hi = lo + updateSpan
        val p = col("event_id").between(lo, hi - 1)
        val before = files()
        val ok = ops.run("commit.update") {
          dml(t => Trace.span("dml.update")(
            t.updateWhere(p, Map("value" -> (col("value") + 1.0)))))
        }(_ => None)
        if (ok.isEmpty) return
        var i = live.nextSetBit(lo.toInt)
        while (i >= 0 && i < hi) { value(i) += 1.0; rowsChanged += 1; i = live.nextSetBit(i + 1) }
        filesRewritten += (before -- files()).size
        ("update", lo, hi, p, None)
      case 'D' =>
        val lo = r.nextInt((nextId - deleteSpan).toInt).toLong
        val hi = lo + deleteSpan
        val p = col("event_id").between(lo, hi - 1)
        val before = files()
        val ok = ops.run("commit.delete") {
          dml(t => Trace.span("dml.delete")(t.deleteWhere(p)))
        }(_ => None)
        if (ok.isEmpty) return
        rowsChanged += modelIn(lo, hi)._1
        live.clear(lo.toInt, hi.toInt)
        filesRewritten += (before -- files()).size
        ("delete", lo, hi, p, None)
      case 'M' =>
        ops.run("commit.maintain") {
          dml(t => Trace.span("api.maintain")(t.maintain(50000L)))
          table(t => Trace.span("api.vacuum")(t.vacuumVersions(keepLast = 3, minAgeMillis = 0L)))
        }(_ => checkModel())
        ("maintain", 0L, 0L, lit(false), None)
    }
    val commitEndNs = System.nanoTime()
    val wait0 = Trace.waitNs
    if (kind != 'M') {
      val want = modelIn(lo, hi)
      if (Trace.on) matched += 2 * want._1
      val p = col("event_id").between(lo, hi - 1)
      def agg(rows: Seq[Row]): Option[String] = {
        val x = rows.head
        val got = (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1),
          if (x.isNullAt(2)) 0.0 else x.getDouble(2))
        if (got == want) None else Some(s"read $got after $cls, model says $want")
      }
      ops.run("read.ryw_api") {
        table(t => Trace.span("exec.collect")(Trace.span("api.select")(
          t.select(Seq("event_id", "value"), p))
          .agg(count(lit(1)), sum(col("event_id")), sum(col("value"))).collect().toSeq))
      }(agg)
      ops.run("read.ryw_sql") {
        Trace.span("exec.collect")(Trace.span("sql.analyze")(spark.sql(
          s"SELECT count(*), sum(event_id), sum(value) FROM gb.b.m.ev " +
            s"WHERE event_id BETWEEN $lo AND ${hi - 1}")).collect().toSeq)
      }(agg)
    }
    ops.run("feed.drain")(drain(pred)) { case (rows, lastEmitNs) =>
      val tot = rows.foldLeft((0L, 0L, 0L, 0L, 0.0)) { (a, x) =>
        (a._1 + x.getLong(0), a._2 + x.getLong(1), a._3 + x.getLong(2),
          a._4 + x.getLong(3), a._5 + x.getDouble(4))
      }
      feedLagMs += (lastEmitNs - commitEndNs - (Trace.waitNs - wait0)) / 1e6
      srcRowsCheck(cls, lo, hi, tot, feedWant)
    }
    Trace.span("check.writes")(measureWrites())
  }

  /** The rows the changefeed emitted for one commit against the commit:
    * an insert's batch exactly; after an update every updated row with its
    * new value; after a delete none of the deleted rows. */
  private def srcRowsCheck(cls: String, lo: Long, hi: Long,
                           tot: (Long, Long, Long, Long, Double),
                           want: Option[(Long, Long, Long)]): Option[String] = cls match {
    case "insert" if want.contains((tot._1, tot._2, tot._3)) => None
    case "insert" => Some(s"feed emitted ${(tot._1, tot._2, tot._3)}, batch is ${want.get}")
    case "update" =>
      val (n, _, v) = modelIn(lo, hi)
      if (tot._4 == n && tot._5 == v) None
      else Some(s"feed emitted ${tot._4} updated rows (value sum ${tot._5}), model says $n ($v)")
    case "delete" if tot._4 == 0 => None
    case "delete" => Some(s"feed emitted ${tot._4} deleted rows")
    case _ => None
  }

  /** Whole-table row count and key sum against the model. */
  private def checkModel(): Option[String] = {
    val x = table(_.select(Seq("event_id")).agg(count(lit(1)), sum(col("event_id"))).head())
    val want = (live.cardinality().toLong, live.stream().asLongStream().sum())
    val got = (x.getLong(0), x.getLong(1))
    if (got == want) None else Some(s"table has $got (rows, key sum), model says $want")
  }

  def loop(ops: Ops, deadlineNs: Long): Unit =
    do {
      mix.foreach(step(ops, _))
      step(ops, 'M')
    } while (System.nanoTime() < deadlineNs)

  /** Rows inserted, updated or deleted ÷ the summed time of the timed ops
    * (commits, reads, drains, maintenance): input generation and output
    * checks between ops are not in it. */
  def work(ops: Ops): Double = rowsChanged / (ops.ok.values.map(_.sum).sum / 1000.0)

  def layers(probe: Probe): Map[String, Double] = {
    val liveBytes = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum.toDouble
    val plainBytes = plainBatchBytes.toDouble * inserts
    val perRow = plainBatchBytes.toDouble / batchRows
    val liveRows = live.cardinality().toDouble
    val mdir = tableDir.resolve("_manifest")
    val newest = Files.list(mdir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json")).maxBy(_.getFileName.toString)
    val n = math.max(1, drains).toDouble
    Map(
      "sources.feed_lag_p50_ms" -> Stats.median(feedLagMs.toSeq),
      "sources.latest_offset_ms" -> srcMs("latestOffset") / n,
      "sources.get_batch_ms" -> srcMs("getBatch") / n,
      "sources.add_batch_ms" -> srcMs("addBatch") / n,
      "sources.rows" -> srcRows / n,
      "dml.files_rewritten" -> (if (filesRewritten.isEmpty) 0.0 else filesRewritten.sum / filesRewritten.size),
      "api.files_per_table" -> table(_.metadata.numFiles).toDouble,
      "api.manifest_bytes" -> Files.size(newest).toDouble,
      "storage.bytes_written" -> writtenBytes.toDouble,
      "storage.live_bytes" -> liveBytes,
      "storage.space_amp" -> liveBytes / math.max(1.0, perRow * liveRows),
      "storage.write_amp" -> writtenBytes / math.max(1.0, plainBytes))
  }

  override def rowsMatched: Long = matched

  override def finalCheck(): Option[String] = checkModel()
}
