package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}

import org.apache.spark.graftspec.BusDrain
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{DirectWriteCommit, StatsWrite}
import org.apache.spark.sql.types._

import graft.api._
import graft.types.TypeMapping.RowIdColumn

/** Manifest entries computed inside the write task must equal the ones the
  * read-back stats pass (`statsEntries`) computes over the same files, for
  * every zone-map kind; an insert must not read its own output; and a
  * write's batch directory holds only the files its entries name. */
class StatsWriteSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", StringType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("dt", DateType),
    StructField("none", StringType)))

  // past the 64-char stat limit: the string max (UTF-8 order) is unbounded
  private val long = "😀" * 33 + "z"
  private val surrogateAt64 = "y" * 63 + "😀" + "tail"

  /** Rows in 3 partitions, so one insert writes 3 files, each with its own
    * extremes: NaN and ±0.0 in the floating columns, supplementary
    * characters and values past the 64-char stat limit in the strings. */
  private def data(n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rowsOf(n), 3), schema)

  /** The same rows held on the driver: a `LocalRelation` batch. */
  private def local(n: Int): DataFrame = spark.createDataFrame(rowsOf(n).asJava, schema)

  private def rowsOf(n: Int): Seq[Row] = {
    val strings = Seq("a", "😀", "￿", "é", long, surrogateAt64, "")
    val doubles = Seq(-0.0, 0.0, Double.NaN, 1.5, -2.25, Double.PositiveInfinity, 0.0)
    (0 until n).map { k =>
      Row(k.toLong * 7 - 50, k % 11 - 5, doubles(k % doubles.size),
        doubles((k + 3) % doubles.size).toFloat,
        if (k % 5 == 4) null else strings(k % strings.size),
        new Timestamp(1700000000000L + k * 1234567L),
        LocalDateTime.of(2024, 1 + k % 12, 1 + k % 28, k % 24, 0, 7, k * 1000),
        Date.valueOf(s"20${10 + k % 20}-0${1 + k % 9}-1${k % 10}"),
        null)
    }
  }

  private def freshTable(name: String): (VastSession, Transaction, Table) = {
    val s = VastSession(spark, Files.createTempDirectory("graft-sw").toString)
    s.createBucket("b")
    s.transaction(_.bucket("b").createSchema("m").createTable(name, schema))
    val tx = s.beginTransaction()
    (s, tx, tx.bucket("b").schema("m").table(name))
  }

  /** Every staged file's entry against the read-back of its batch dir. */
  private def assertParity(t: Table, bucketOf: Option[Column] = None): Unit = {
    val written = t.manifest.files
    assert(written.nonEmpty)
    val withId = StructType(t.schema.fields :+
      StructField(RowIdColumn, LongType, nullable = false))
    val dirs = written.map(e => t.dir.resolve(e.path).getParent).distinct
    val readBack = dirs.flatMap(d => t.statsEntries(d, withId, sorted = false, bucketOf))
    assert(written.sortBy(_.path) == readBack.sortBy(_.path))
  }

  test("in-task entries equal read-back entries for every stat kind") {
    val (_, tx, t) = freshTable("kinds")
    t.insert(data(200))
    val files = t.manifest.files
    assert(files.size == 3, "the 3-partition batch should write 3 files")
    // the stats the spec means to cover are actually present
    val st = files.head.colStats
    assert(Set("l", "i", "d", "f", "s", "ts", "ntz", "dt").subsetOf(st.keySet))
    assert(!st.contains("none"), "an all-null column has no zone map")
    assert(files.exists(_.colStats("d").max == "NaN"))
    assert(files.exists(_.colStats("s").maxUnbounded))
    assertParity(t)
    tx.rollback()
  }

  test("parity on a bucketed write and under maxRecordsPerFile") {
    val (s, tx0, _) = freshTable("bk")
    tx0.rollback()
    s.transaction(_.bucket("b").schema("m").table("bk").addBucketLayout(4, Seq("i")))
    val btx = s.beginTransaction()
    val bt = btx.bucket("b").schema("m").table("bk")
    bt.insert(data(120))
    assert(bt.manifest.files.forall(_.bucket >= 0))
    assertParity(bt, Some(pmod(hash(col("i")), lit(4))))
    btx.rollback()
    val (_, tx, t) = freshTable("capped")
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "100")
    try t.insert(data(700)) finally spark.conf.unset(key)
    val files = t.manifest.files
    assert(files.forall(_.rows <= 100) && files.size >= 7 && files.map(_.rows).sum == 700)
    assertParity(t)
    tx.rollback()
  }

  test("a 0-row insert stages nothing; a 0-row overwrite truncates") {
    val (s, tx, t) = freshTable("empty")
    t.insert(data(20))
    tx.commit()
    def version: Long = s.transaction(_.bucket("b").schema("m").table("empty").manifest.version)
    val v = version
    s.transaction { tx2 =>
      val t2 = tx2.bucket("b").schema("m").table("empty")
      assert(t2.insert(data(0)) == ((20L, 20L)))
      assert(t2.manifest.files.size == 3 && t2.manifest.version == v)
    }
    assert(version == v, "a 0-row insert committed a new version")
    s.transaction(_.bucket("b").schema("m").table("empty").overwrite(data(0)))
    s.transaction { tx3 =>
      val t3 = tx3.bucket("b").schema("m").table("empty")
      assert(t3.manifest.version == v + 1 && t3.manifest.files.isEmpty)
      assert(t3.select().count() == 0 && t3.manifest.nextRowId == 20L)
    }
  }

  /** `f`'s result and the number of Spark jobs it ran. */
  private def withJobs[T](group: String)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val out = try f finally sc.clearJobGroup()
    BusDrain(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def jobsOf(group: String)(f: => Unit): Int = withJobs(group)(f)._2

  test("an insert runs no job reading its own output") {
    val (_, tx, t) = freshTable("jobs")
    val batch = data(200)
    // the row-id offsets of a multi-partition batch (zipWithIndex) and the write
    assert(jobsOf("sw-insert")(t.insert(batch)) == 2)
    // explicit row ids: the write alone
    val withIds = batch.withColumn(RowIdColumn, col("l") + 1000L)
    assert(jobsOf("sw-insert-ids")(t.insert(withIds)) == 1)
    tx.rollback()
  }

  test("a small driver-held batch is one file written by one job") {
    val (_, tx, t) = freshTable("local")
    t.insert(data(20))
    val before = t.manifest.files.size
    val batch = local(1000)
    // written on the driver (StatsWrite.parquet's driver path): no job
    assert(jobsOf("sw-local")(assert(t.insert(batch) == ((20L, 1020L)))) == 0)
    assert(t.manifest.files.size == before + 1)
    // ids follow the batch's input order: row k was generated with l = 7k - 50
    val ids = t.select(Seq("l"), internalRowId = true).select("l", RowIdColumn).collect()
      .filter(_.getLong(1) >= 20L).map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.length == 1000 && ids.forall { case (l, id) => id == 20L + (l + 50) / 7 })
    assertParity(t)
    tx.rollback()
  }

  /** Physical plans of the SQL executions `f` starts. */
  private def plansOf(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart => plans.add(st.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try { f; BusDrain(sc) } finally sc.removeSparkListener(l)
    plans.asScala.toSeq
  }

  test("a small driver-held batch gets its row ids on the driver") {
    val (_, tx, t) = freshTable("localplan")
    val plans = plansOf(assert(t.insert(local(50)) == ((0L, 50L))))
    val write = plans.filter(_.contains(RowIdColumn))
    assert(write.nonEmpty, plans.mkString("\n"))
    // the write scans the local rows with their ids, not an RDD built from them
    assert(write.forall(p => p.contains("LocalTableScan") && !p.contains("ExistingRDD")),
      write.mkString("\n"))
    tx.rollback()
  }

  /** Regular files under `d`, by name relative to it. */
  private def filesUnder(d: Path): Set[String] =
    if (!Files.isDirectory(d)) Set.empty
    else Table.walkPaths(d).filter(Files.isRegularFile(_)).map(d.relativize(_).toString).toSet

  test("each write's batch directory holds exactly its entries' files") {
    val (_, tx, t) = freshTable("dirs")
    val data0 = t.dir.resolve("data")
    def step(name: String)(op: => Unit): Unit = {
      val before = t.manifest.files.map(_.path).toSet
      val dirsBefore = Table.listDir(data0).toSet
      op
      val added = t.manifest.files.map(_.path).filterNot(before)
      assert(added.nonEmpty, name)
      val dirs = Table.listDir(data0).toSet -- dirsBefore
      assert(dirs == added.map(p => t.dir.resolve(p).getParent).toSet, name)
      dirs.foreach { d =>
        val names = added.map(t.dir.resolve(_)).filter(_.getParent == d)
          .map(_.getFileName.toString).toSet
        val sidecars = filesUnder(d) -- names
        assert(names.subsetOf(filesUnder(d)), s"$name: $d")
        assert(sidecars == names.map(n => s".$n.crc").filter(sidecars), s"$name: $sidecars")
      }
    }
    step("insert")(t.insert(data(30)))
    step("local insert")(t.insert(local(20)))
    step("update")(t.updateWhere(col("i") === 0, Map("s" -> lit("u"))))
    step("compact")(t.compact(targetRows = 1000L))
    assert(!filesUnder(data0).exists(f => f.contains("_temporary") || f.contains("_SUCCESS")))
    assertParity(t)
    tx.rollback()
  }

  test("a write into an existing directory fails and leaves it intact") {
    val dir = Files.createTempDirectory("graft-owned")
    Files.write(dir.resolve("part-other.parquet"), Array[Byte](1, 2, 3))
    intercept[FileAlreadyExistsException](
      StatsWrite.parquet(local(5), dir.toString, Seq(count(lit(1)))))
    assert(filesUnder(dir) == Set("part-other.parquet"))
    assert(Files.readAllBytes(dir.resolve("part-other.parquet")).toSeq == Seq[Byte](1, 2, 3))
  }

  test("two attempts of one task write distinct files; abortTask removes its own") {
    val dir = Files.createTempDirectory("graft-commit").resolve("b")
    val conf = spark.sparkContext.hadoopConfiguration
    val commit = new DirectWriteCommit("j1", dir.toString)
    val job = new JobContextImpl(conf, new JobID("graft", 0))
    commit.setupJob(job)
    val task = new TaskID(job.getJobID, TaskType.MAP, 3)
    val (first, second) = (new TaskAttemptContextImpl(conf, new TaskAttemptID(task, 7)),
      new TaskAttemptContextImpl(conf, new TaskAttemptID(task, 8)))
    def write(a: TaskAttemptContextImpl): String = {
      val f = new org.apache.hadoop.fs.Path(
        commit.newTaskTempFile(a, None, FileNameSpec("", "-c000.parquet")))
      f.getFileSystem(conf).create(f).close()
      f.getName
    }
    val (n1, n2) = (write(first), write(second))
    assert(n1 == "part-00003-j1-7-c000.parquet" && n2 == "part-00003-j1-8-c000.parquet")
    commit.abortTask(first)
    assert(filesUnder(dir) == Set(n2, s".$n2.crc"))
    val msg = commit.commitTask(second)
    assert(msg.obj == Seq(n2))
    commit.commitJob(job, Seq(msg))
    assert(commit.committed == Seq(n2) && filesUnder(dir) == Set(n2, s".$n2.crc"),
      "a job commit renames nothing and writes no marker")
    commit.abortJob(job)
    assert(!Files.exists(dir), "an aborted job deletes the directory it created")
  }

  test("a small driver-held batch with explicit ids is one file") {
    val (_, tx, t) = freshTable("localids")
    val batch = local(1000).withColumn(RowIdColumn, col("l") + 10000L)
    assert(jobsOf("sw-local-ids")(assert(t.insert(batch) == ((9950L, 16944L)))) == 0)
    assert(t.manifest.files.size == 1 && t.manifest.nextRowId == 16944L)
    tx.rollback()
  }

  test("a driver-held batch above spark.sql.files.openCostInBytes keeps its slices") {
    val (_, tx, t) = freshTable("big")
    val batch = local(1000)
    val size = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.files.openCostInBytes"
    def filesAt(bound: BigInt): (Int, Int) = {
      val n0 = t.manifest.files.size
      spark.conf.set(key, bound.toString)
      val jobs = try jobsOf(s"sw-bound-$bound")(t.insert(batch)) finally spark.conf.unset(key)
      (jobs, t.manifest.files.size - n0)
    }
    assert(filesAt(size) == ((0, 1)), "a batch exactly at the bound is one file, no job")
    val (jobs, files) = filesAt(size - 1)
    assert(jobs == 2 && files > 1)
    tx.rollback()
  }

  test("a 0-row driver-held insert stages nothing") {
    val (s, tx, t) = freshTable("local0")
    t.insert(local(20))
    tx.commit()
    s.transaction { tx2 =>
      val t2 = tx2.bucket("b").schema("m").table("local0")
      val m = t2.manifest
      val dirs = Table.listDir(t2.dir.resolve("data")).toSet
      // written on the driver: no job, and the empty batch directory is gone
      assert(jobsOf("sw-local0")(assert(t2.insert(local(0)) == ((20L, 20L)))) == 0)
      assert(t2.manifest.files == m.files && t2.manifest.version == m.version)
      assert(Table.listDir(t2.dir.resolve("data")).toSet == dirs)
    }
  }

  test("an explicit NULL _row_id fails the insert and stages nothing") {
    val (s, tx, t) = freshTable("nullid")
    t.insert(local(20))
    tx.commit()
    def table(x: Transaction) = x.bucket("b").schema("m").table("nullid")
    val m = s.transaction(x => table(x).manifest)
    def nullFirst(df: DataFrame) = df.withColumn(RowIdColumn,
      when(col("l") === -50L, lit(null).cast(LongType)).otherwise(lit(7000L)))
    // checked on the driver (a driver-held batch) and in the write task
    Seq(nullFirst(local(2)), nullFirst(data(6))).foreach { ids =>
      val tx2 = s.beginTransaction()
      val e = intercept[Exception](table(tx2).insert(ids))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => x.getMessage != null && x.getMessage.contains("NULL")), e.toString)
      tx2.rollback()
    }
    s.transaction { tx3 =>
      val t3 = table(tx3)
      val after = t3.manifest
      assert(after.version == m.version && after.files == m.files &&
        after.nextRowId == m.nextRowId)
      // the failed write left no parquet file behind
      val data0 = t3.dir.resolve("data")
      assert(filesUnder(data0).filter(_.endsWith(".parquet")).map(data0.resolve(_)) ==
        m.files.map(f => t3.dir.resolve(f.path)).toSet)
    }
  }

  /** Aggregates over every column kind: counts, NULL counts, min and max. */
  private def statsOf(df: DataFrame): Seq[Column] =
    count(lit(1)) +: df.columns.toSeq.flatMap(c =>
      Seq(count(col(c)), min(col(c)), max(col(c))))

  test("the driver path's entries equal the job path's for the same batch") {
    val root = Files.createTempDirectory("graft-sw-paths")
    val onDriver = local(60).coalesce(1)
    // the same rows in the same order, from an RDD: a one-task job
    val asJob = spark.createDataFrame(spark.sparkContext.parallelize(rowsOf(60), 1), schema)
    val (driver, driverJobs) = withJobs("sw-path-driver")(
      StatsWrite.parquet(onDriver, root.resolve("d").toString, statsOf(onDriver)))
    val (job, jobJobs) = withJobs("sw-path-job")(
      StatsWrite.parquet(asJob, root.resolve("j").toString, statsOf(asJob)))
    assert(driverJobs == 0 && jobJobs == 1)
    assert(driver.size == 1 && job.size == 1)
    val (d, j) = (driver.head._2, job.head._2)
    assert(d == j, s"driver $d\njob    $j")
    // the spec covers string extremes and NULLs on both paths
    val s = schema.fieldIndex("s")
    assert(d.getLong(1 + 3 * s) < 60 && d.getString(3 + 3 * s) == long)
    assert(d.getLong(1 + 3 * schema.fieldIndex("none")) == 0)
    Seq("d", "j").zip(Seq(driver, job)).foreach { case (dir, files) =>
      val name = files.head._1
      assert(filesUnder(root.resolve(dir)) == Set(name, s".$name.crc"), dir)
    }
  }

  test("a row that throws mid-write leaves no batch directory") {
    val dir = Files.createTempDirectory("graft-sw-throw").resolve("b")
    val batch = local(20).coalesce(1)
    // row 10 (l = 20) fails the in-task stats after the file got its first rows
    val failing = Seq(count(lit(1)),
      max(when(col("l") === 20L, raise_error(lit("boom at row 10"))).otherwise(col("l"))))
    val (e, jobs) = withJobs("sw-throw")(
      intercept[Exception](StatsWrite.parquet(batch, dir.toString, failing)))
    assert(jobs == 0)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => x.getMessage != null && x.getMessage.contains("boom at row 10")), e.toString)
    assert(!Files.exists(dir), s"left behind: ${filesUnder(dir)}")
  }

  test("sorted and bucketed driver-held batches keep the job path") {
    val (s, tx0, _) = freshTable("sortedlocal")
    tx0.rollback()
    def m(tx: Transaction) = tx.bucket("b").schema("m")
    s.transaction(m(_).createTable("bucketedlocal", schema))
    s.transaction(m(_).table("sortedlocal").addSortingKey(Seq("i")))
    s.transaction(m(_).table("bucketedlocal").addBucketLayout(4, Seq("i")))
    val tx = s.beginTransaction()
    val sorted = m(tx).table("sortedlocal")
    assert(jobsOf("sw-sorted-local")(sorted.insert(local(50))) >= 1)
    assert(sorted.manifest.files.size == 1)
    assertParity(sorted)
    val bucketed = m(tx).table("bucketedlocal")
    assert(jobsOf("sw-bucketed-local")(bucketed.insert(local(50))) >= 1)
    assert(bucketed.manifest.files.size > 1 && bucketed.manifest.files.forall(_.bucket >= 0))
    tx.rollback()
  }
}
