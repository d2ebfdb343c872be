package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (pos == lo || s(hi).isInfinite) { if (pos == lo) s(lo) else s(hi) }
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Closed-loop op accounting. An op that throws, overruns the time limit or
  * fails its output check is a failure: it is never timed as a success, and
  * it counts as missing every latency limit (an infinite sample). Every op
  * of class `inject` throws inside its timed region: the fail-closed path
  * end to end. */
final class Ops(val timeoutMs: Double, inject: Option[String] = None) {
  val ok = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val bad = mutable.LinkedHashMap.empty[String, Int]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def fail(cls: String, why: String): Unit = {
    failed += 1
    bad(cls) = bad.getOrElse(cls, 0) + 1
    if (failures.size < 20) {
      failures += s"$cls: $why"
      System.err.println(s"[graftbench] FAILED $cls: $why")
    }
  }

  /** Time `body` as one op of class `cls`, then run `check` on its value
    * outside the timed region. Returns the value when the op succeeded. */
  def run[T](cls: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    Trace.nextOp()
    val t0 = System.nanoTime()
    val r = try Right(Trace.span(s"op.$cls") {
      if (inject.contains(cls)) throw new IllegalStateException(s"injected failure in $cls")
      body
    }) catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(err) => fail(cls, err); None
      case Right(_) if ms > timeoutMs => fail(cls, f"timed out ($ms%.0f ms)"); None
      case Right(v) =>
        val verdict = try check(v) catch {
          case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        verdict match {
          case Some(err) => fail(cls, err); None
          case None => ok.getOrElseUpdate(cls, ArrayBuffer.empty) += ms; Some(v)
        }
    }
  }

  /** Latency samples of the classes `sel` picks, failures as +inf. */
  def samples(sel: String => Boolean): Seq[Double] =
    ok.collect { case (c, xs) if sel(c) => xs.toSeq }.flatten.toSeq ++
      bad.collect { case (c, n) if sel(c) => Seq.fill(n)(Double.PositiveInfinity) }.flatten

  /** Median of the picked classes, an infinite one capped at the op time
    * limit so the JSON stays finite. */
  def p50(sel: String => Boolean): Double =
    math.min(Stats.median(samples(sel)), timeoutMs)
}

/** Spans around every call the benchmark makes into a layer's public
  * function: name, start, end, parent, op id, plus the listener counts at
  * the same boundaries. Kept in memory; written out when the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
                        startNs: Long, endNs: Long, counts: Array[Long])

  @volatile var on = false
  private var sc: Option[org.apache.spark.SparkContext] = None
  private var probe: Option[Probe] = None
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0L
  private var ids = 0

  def start(spark: SparkSession, p: Probe): Unit = {
    sc = Some(spark.sparkContext); probe = Some(p); on = true
  }
  def nextOp(): Unit = op += 1
  def ops: Long = op

  /** Time spent draining the listener bus and reading counts at span
    * boundaries: a workload subtracts it from intervals it times across
    * several spans. */
  var waitNs = 0L

  private def counts(): Array[Long] = {
    val t0 = System.nanoTime()
    sc.foreach(org.apache.spark.graftbench.BusDrain(_))
    val c = probe.map(_.snapshot()).getOrElse(Array.emptyLongArray)
    waitNs += System.nanoTime() - t0
    c
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      ids += 1
      val id = ids
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val c0 = counts()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counts()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1,
          c1.indices.map(i => c1(i) - c0(i)).toArray)
      }
    }

  /** Self time per layer (span duration minus its children's), in ms. The
    * layer is the span name's first dotted component. */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  /** Total ms per span name, and the number of spans of that name. */
  def byName: Map[String, (Double, Int)] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => (s.endNs - s.startNs) / 1e6).sum, ss.size)
    }

  def write(path: java.nio.file.Path, counterNames: Seq[String]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val cs = counterNames.zip(s.counts).map { case (k, v) => s""""$k":$v""" }
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":{${cs.mkString(",")}}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark listener + query-execution listener: jobs, tasks, scheduler delay
  * vs executor run time, shuffle, spill, GC, scan input, pinned RDD blocks
  * and the planner's phase times. Registered in traced runs only. */
final class Probe extends SparkListener with QueryExecutionListener {
  val names: Seq[String] = Seq("jobs", "tasks", "scheduler_delay_ms",
    "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "input_bytes", "input_records", "queries",
    "analysis_ms", "optimizer_ms", "physical_ms")
  private val c = Array.fill(names.size)(new AtomicLong(0L))
  private def add(name: String, v: Long): Unit = c(names.indexOf(name)).addAndGet(v)
  def snapshot(): Array[Long] = c.map(_.get())
  def get(name: String): Long = c(names.indexOf(name)).get()

  private val blocks = mutable.Map.empty[String, Long]
  @volatile var pinnedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("scheduler_delay_ms", math.max(0L, delay))
      add("executor_run_ms", m.executorRunTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      if (b.storageLevel.isValid) blocks(b.blockId.name) = b.memSize + b.diskSize
      else blocks.remove(b.blockId.name)
      pinnedPeak = math.max(pinnedPeak, blocks.values.sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("queries", 1)
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => add("analysis_ms", p.durationMs))
    ph.get("optimization").foreach(p => add("optimizer_ms", p.durationMs))
    ph.get("planning").foreach(p => add("physical_ms", p.durationMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
