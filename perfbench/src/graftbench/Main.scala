package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path)

/** One workload: set up (inputs, tables, expected outputs, warm-up), then a
  * closed loop of ops with one client until the deadline. */
trait Workload {
  /** Op classes whose latencies make `op_p50_ms`. */
  def primary(cls: String): Boolean
  def setup(): Unit
  /** Clears the accumulators `work` and `layers` read, so that they cover
    * one window only. */
  def reset(): Unit
  def loop(ops: Ops, deadlineNs: Long): Unit
  /** Units of work per second (`work_per_s`) since the last `reset`. */
  def work(ops: Ops): Double
  /** Per-layer metrics the workload measures itself since the last `reset`. */
  def layers(probe: Probe): Map[String, Double]
  /** Rows the read ops of the traced window selected (their predicates'
    * true matches, from the workload's own model). */
  def rowsMatched: Long = 0L
  /** Checks made once at the end; None when they pass. */
  def finalCheck(): Option[String] = None
}

/**
 * Benchmark JVM. Usage:
 * {{{
 *   graftbench.Main --workload catalog_ingest --seed 1 --seconds 10 --trace 0
 *     --work <scratch dir> --out <result file> --launch-ms <epoch ms>
 *     [--inject-fail <op class>]
 * }}}
 * Writes one JSON object to `--out`: correct, attempted, failed, metrics
 * (name → value; BENCHMARK.json holds the units), failures. `setup_s` runs from `--launch-ms` (the launcher's clock just
 * before it started this JVM) to the first timed op.
 */
object Main {
  private val t0 = System.nanoTime()
  /** Progress line on stderr with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val launchMs = a("launch-ms").toDouble
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]"), cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.gb", "org.apache.spark.sql.graftglue.GraftSqlCatalog")
      .config("spark.sql.catalog.gb.root", work.resolve("cat").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, seed, work)
    val w: Workload = workload match {
      case "catalog_ingest" => new CatalogIngest(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    note("spark up")
    val setupErr = try { w.setup(); None } catch {
      case e: Throwable => e.printStackTrace(); Some(s"setup failed: $e")
    }
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val timeoutMs = 60000.0
    val inject = a.get("inject-fail")
    val ops = new Ops(timeoutMs, inject)

    /** One measured window. Whatever escapes the workload's loop (an
      * exception outside any op) is a failed op, so the run still ends
      * with its metrics and a non-zero exit. */
    def window(o: Ops, secs: Double): Unit = {
      val t0 = System.nanoTime()
      try w.loop(o, t0 + (secs * 1e9).toLong)
      catch { case e: Throwable => e.printStackTrace(); o.attempted += 1; o.fail("loop", s"$e") }
    }

    if (setupErr.isEmpty) try {
      if (!traced) {
        w.reset()
        window(ops, seconds)
        metrics("setup_s") = setupS
        metrics("op_p50_ms") = ops.p50(w.primary)
        metrics("work_per_s") = w.work(ops)
      } else {
        // untraced half window, traced window, untraced half window: the
        // traced window sits at the untraced ones' mean position, so table
        // growth and JIT warm-up do not read as tracing cost
        val plain = new Ops(timeoutMs, inject)
        window(plain, seconds / 2)
        w.reset()
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
        Trace.start(spark, probe)
        val reads0 = graft.api.Manifest.readCount.get()
        val ops0 = Trace.ops
        window(ops, seconds)
        val manifestReads = graft.api.Manifest.readCount.get() - reads0
        Trace.on = false
        org.apache.spark.graftbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
        val nOps = math.max(1L, Trace.ops - ops0).toDouble
        val perOp = (k: String) => probe.get(k) / nOps
        for (k <- Seq("jobs", "tasks", "scheduler_delay_ms", "executor_run_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"))
          metrics(s"spark.$k") = perOp(k)
        metrics("spark.pinned_bytes_peak") = probe.pinnedPeak.toDouble
        val q = math.max(1L, probe.get("queries")).toDouble
        metrics("plan.analysis_ms") = probe.get("analysis_ms") / q
        metrics("plan.optimizer_ms") = probe.get("optimizer_ms") / q
        metrics("plan.physical_ms") = probe.get("physical_ms") / q
        // scan work of the read ops alone, from the counts on their spans
        val readSpans = Trace.spans.filter(_.name.startsWith("op.read."))
        def readCount(k: String) = readSpans.map(_.counts(probe.names.indexOf(k))).sum.toDouble
        metrics("scan.bytes_read") = readCount("input_bytes") / math.max(1, readSpans.size)
        metrics("scan.rows_examined_per_row") =
          readCount("input_records") / math.max(1L, w.rowsMatched)
        metrics("api.manifest_reads") = manifestReads / nOps
        // mean driver time per call into each public entry point
        val spans = Trace.byName
        for (n <- Seq("api.select", "api.commit", "api.maintain", "api.vacuum",
            "dml.insert", "dml.update", "dml.delete"))
          metrics(s"${n}_ms") = spans.get(n).map { case (ms, calls) => ms / calls }.getOrElse(0.0)
        val self = Trace.selfMsByLayer
        for (l <- Seq("api", "dml", "sql", "exec", "llm", "sources"))
          metrics(s"self.${l}_ms") = self.getOrElse(l, 0.0) / nOps
        metrics ++= w.layers(probe)
        val tracePath = work.getParent.resolveSibling("traces")
          .resolve(s"$workload-seed$seed.jsonl")
        Trace.write(tracePath, probe.names)
        System.err.println(s"[graftbench] spans written to $tracePath")
        window(plain, seconds / 2)
        // per-class latencies from the untraced windows, which pay no span cost
        for ((c, xs) <- plain.ok) metrics(s"$c.p50_ms") = Stats.median(xs.toSeq)
        metrics("trace.overhead_frac") = ops.p50(w.primary) / plain.p50(w.primary) - 1.0
        ops.attempted += plain.attempted
        ops.failed += plain.failed
        ops.failures ++= plain.failures
      }
      metrics("jvm.peak_rss_mb") = peakRssMb()
    } catch {
      case e: Throwable => e.printStackTrace(); ops.attempted += 1; ops.fail("metrics", s"$e")
    }

    for ((c, xs) <- ops.ok)
      note(f"$c%-24s n=${xs.size}%4d p50=${Stats.median(xs.toSeq)}%9.1f ms")
    val finalErr = if (setupErr.isEmpty) w.finalCheck() else None
    finalErr.foreach(e => ops.fail("final_check", e))
    setupErr.foreach(e => ops.fail("setup", e))
    if (ops.attempted == 0) ops.attempted = 1
    val correct = ops.failed == 0
    spark.stop()

    val ms = metrics.map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}"""
    }
    val fails = ops.failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"")
    val json = s"""{"correct":$correct,"attempted":${ops.attempted},"failed":${ops.failed},""" +
      s""""metrics":{${ms.mkString(",")}},"failures":[${fails.mkString(",")}]}"""
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    System.exit(0)
  }

  /** Process high-water resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}
