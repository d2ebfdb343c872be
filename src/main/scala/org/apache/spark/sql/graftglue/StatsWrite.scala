package org.apache.spark.sql.graftglue

import java.nio.file.{Files, Paths}
import java.util.{Date, UUID}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, MutableProjection, NamedExpression, SafeProjection, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter, WriteJobDescription, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/**
 * Parquet write that computes per-file statistics inside the write task:
 * each task keeps one aggregation buffer per file it writes and evaluates
 * the given Catalyst aggregates over exactly the rows that went into that
 * file, so nothing has to read the files back to learn what is in them.
 * The technique of Delta Lake's `DeltaJobStatisticsTracker`.
 *
 * A write that is one task over rows already on the driver (its optimized
 * plan is a `LocalRelation`, possibly under one `coalesce(1)`) runs that
 * task on the calling thread: the same job description, commit protocol
 * and stats tracker, no Spark job. Scheduling the one task costs more than
 * writing a small batch does. Every other plan runs as a Spark job.
 */
object StatsWrite {

  /** Writes `df` as parquet files under the directory `path` and returns,
    * for every file holding at least one row, the file name and the global
    * aggregates `aggs` (e.g. `count(lit(1))`, `min(col("x"))`) evaluated over
    * that file's rows — what `df.write.parquet(path)` followed by a read-back
    * grouped by `input_file_name()` returns, without the read-back job.
    * Files come back in name order. The directory must not exist: the
    * write creates it ([[DirectWriteCommit]]), deletes it if the write
    * fails, and leaves in it exactly the returned files and their `.crc`
    * sidecars. Spark's empty-write marker file (an empty partition 0) has
    * no rows, so it is deleted, and so is a directory that holds no rows.
    * The write is one SQL execution; a driver-held batch runs no job in it
    * (see [[driverRows]]). */
  def parquet(df: DataFrame, path: String, aggs: Seq[Column]): Seq[(String, Row)] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    // analyze the aggregates against fresh attributes in the frame's column
    // order: the rows a write task sees are in that order
    val dataCols = DataTypeUtils.toAttributes(df.schema)
    val exprs = classic.Dataset.ofRows(spark, LocalRelation(dataCols))
      .agg(aggs.head, aggs.tail: _*).queryExecution.analyzed
      .asInstanceOf[Aggregate].aggregateExpressions
    val tracker = new FileAggTracker(dataCols, exprs)
    val qe = ds.queryExecution
    val committer = new DirectWriteCommit(UUID.randomUUID().toString, path)
    SQLExecution.withNewExecutionId(qe, Some("parquet write with file stats")) {
      driverRows(qe.optimizedPlan) match {
        case Some(rel) => writeOnDriver(spark, rel, path, committer, tracker)
        case None =>
          val plan = qe.executedPlan
          FileFormatWriter.write(
            sparkSession = spark,
            plan = plan,
            fileFormat = new ParquetFileFormat,
            committer = committer,
            outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
            hadoopConf = spark.sessionState.newHadoopConf(),
            partitionColumns = Nil,
            bucketSpec = None,
            statsTrackers = Seq(tracker),
            options = Map.empty)
      }
    }
    // Spark writes a file for partition 0 even when it is empty; no entry
    // names a 0-row file, so it goes, and so does a directory left empty
    val kept = tracker.files.sortBy(_._1)
    val empty = committer.committed.toSet -- kept.map(_._1)
    if (empty.nonEmpty) {
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (kept.isEmpty) fs.delete(dir, true)
      else empty.foreach(name => fs.delete(new Path(dir, name), false))
    }
    kept
  }

  /** The rows of a write that Spark would run as one task over rows already
    * on the driver: a `LocalRelation` under one `coalesce(1)`, or one of at
    * most one row (`LocalTableScan` slices a larger one to
    * `defaultParallelism` tasks, so it keeps them). A sort, a computed
    * column or any other operator leaves the plan to the job path. */
  private def driverRows(plan: LogicalPlan): Option[LocalRelation] = plan match {
    case Repartition(1, false, r: LocalRelation) if !r.isStreaming => Some(r)
    case r: LocalRelation if !r.isStreaming && r.data.size <= 1 => Some(r)
    case _ => None
  }

  /** The one write task of `rel` on the calling thread, framed as
    * `FileFormatWriter.write` frames a job's tasks: job setup, the task
    * (`executeTask`, which aborts the task's files if a row fails), job
    * commit and the trackers' stats. On any failure the job is aborted,
    * which deletes the directory, and the failure is rethrown. */
  private def writeOnDriver(spark: classic.SparkSession, rel: LocalRelation, path: String,
                            committer: DirectWriteCommit, tracker: FileAggTracker): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(path))
    val format = new ParquetFileFormat
    val dataSchema = DataTypeUtils.fromAttributes(rel.output)
    DataSourceUtils.verifySchema(format, dataSchema)
    DataSourceUtils.checkFieldNames(format, dataSchema)
    // sets the job's parquet conf, so it comes before the conf is captured
    val writerFactory = format.prepareWrite(spark, job, Map.empty, dataSchema)
    val conf = spark.sessionState.conf
    val description = new WriteJobDescription(
      uuid = UUID.randomUUID().toString,
      serializableHadoopConf = new SerializableConfiguration(job.getConfiguration),
      outputWriterFactory = writerFactory,
      allColumns = rel.output,
      dataColumns = rel.output,
      partitionColumns = Nil,
      bucketSpec = None,
      path = path,
      customPartitionLocations = Map.empty,
      maxRecordsPerFile = conf.maxRecordsPerFile,
      timeZoneId = conf.sessionLocalTimeZone,
      statsTrackers = Seq(tracker))
    committer.setupJob(job)
    try {
      val result = FileFormatWriter.executeTask(description,
        SparkHadoopWriterUtils.createJobTrackerID(new Date()), 0, 0, 0, committer,
        rel.data.iterator, None)
      committer.commitJob(job, Seq(result.commitMsg))
      // one task with one tracker: its stats are the task's one result
      tracker.processStats(result.summary.stats, 0L)
    } catch {
      case t: Throwable =>
        committer.abortJob(job)
        throw t
    }
  }
}

/**
 * The commit protocol of [[StatsWrite]]: tasks write their files straight
 * into the batch directory under their final names, and nothing is
 * renamed, because the files are published by the manifest commit that
 * names them, not by their location. The technique of Delta Lake's
 * `DelayedCommitProtocol`. It suits only a write whose directory is fresh
 * and whose files are read through manifest entries alone:
 *  - `setupJob` creates the directory exclusively, so a job never writes
 *    into (or, aborting, deletes) a directory another write owns;
 *  - a file is `part-<split>-<jobId>-<attempt><ext>`: a retried or
 *    speculative attempt never reuses another attempt's name;
 *  - `commitTask` returns the attempt's file names and `abortTask` deletes
 *    its files; a killed attempt's file stays unreferenced and is reaped
 *    by `vacuumVersions` behind its age gate;
 *  - `commitJob` writes nothing (no `_SUCCESS`) and `abortJob` deletes the
 *    directory `setupJob` created.
 * Spark's own writes (`df.write`, the SQL row-level COW) keep the session's
 * `spark.sql.sources.commitProtocolClass`.
 */
class DirectWriteCommit(jobId: String, path: String)
    extends FileCommitProtocol with Serializable {

  /** Every file name the committed tasks returned; set by `commitJob`. */
  @transient var committed: Seq[String] = Nil
  @transient private var created = false
  // per attempt: the files it opened (one attempt per deserialized copy
  // in a task, several when driven directly)
  @transient private lazy val opened = mutable.Map.empty[TaskAttemptID, mutable.ArrayBuffer[Path]]

  override def setupJob(jobContext: JobContext): Unit = {
    val dir = Paths.get(new Path(path).toUri.getPath)
    Option(dir.getParent).foreach(Files.createDirectories(_))
    Files.createDirectory(dir) // throws if another write owns it
    created = true
  }

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    committed = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]])

  override def abortJob(jobContext: JobContext): Unit =
    if (created) {
      val dir = new Path(path)
      dir.getFileSystem(jobContext.getConfiguration).delete(dir, true)
    }

  override def setupTask(taskContext: TaskAttemptContext): Unit = ()

  override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
                               spec: FileNameSpec): String = {
    val attempt = taskContext.getTaskAttemptID
    val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-$jobId-" +
      s"${attempt.getId}${spec.suffix}"
    val file = new Path(dir.fold(new Path(path))(new Path(path, _)), name)
    opened.synchronized(opened.getOrElseUpdate(attempt, mutable.ArrayBuffer.empty) += file)
    file.toString
  }

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(filesOf(taskContext).map(_.getName).toSeq)

  override def abortTask(taskContext: TaskAttemptContext): Unit =
    filesOf(taskContext).foreach { f =>
      // the Hadoop file system deletes the `.crc` sidecar with the file
      f.getFileSystem(taskContext.getConfiguration).delete(f, false)
    }

  private def filesOf(taskContext: TaskAttemptContext): Seq[Path] =
    opened.synchronized(opened.remove(taskContext.getTaskAttemptID)).map(_.toSeq).getOrElse(Nil)
}

/** Job half: collects the per-file results of the committed tasks. */
private class FileAggTracker(dataCols: Seq[Attribute], exprs: Seq[NamedExpression])
    extends WriteJobStatsTracker {
  @transient var files: Seq[(String, Row)] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileAggTaskTracker(dataCols, exprs)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    files = stats.flatMap(_.asInstanceOf[FileAggs].files)
}

private case class FileAggs(files: Seq[(String, Row)]) extends WriteTaskStats

/** Task half: one aggregation buffer per file, updated with the same
  * initial/update/evaluate expressions a hash aggregate would use. Results
  * are keyed by file name: the task writes each file into the batch
  * directory under its final name ([[DirectWriteCommit]]). */
private class FileAggTaskTracker(dataCols: Seq[Attribute], exprs: Seq[NamedExpression])
    extends WriteTaskStatsTracker {
  private val aggs = exprs.flatMap(_.collect {
    case ae: AggregateExpression => ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
  })
  private val bufAttrs = aggs.flatMap(_.aggBufferAttributes)
  private val init = MutableProjection.create(aggs.flatMap(_.initialValues), Nil)
  private val update =
    MutableProjection.create(aggs.flatMap(_.updateExpressions), bufAttrs ++ dataCols)
  private val result = SafeProjection.create(exprs.map(_.transform {
    case ae: AggregateExpression =>
      ae.aggregateFunction.asInstanceOf[DeclarativeAggregate].evaluateExpression
  }), bufAttrs)
  private val toRow = CatalystTypeConverters.createToScalaConverter(
    DataTypeUtils.fromAttributes(exprs.map(_.toAttribute)))

  private class FileAgg {
    val buffer = new SpecificInternalRow(bufAttrs.map(_.dataType))
    init.target(buffer).apply(InternalRow.empty)
    var rows = 0L
  }
  // an unpartitioned write has one file open at a time
  private val files = mutable.ArrayBuffer.empty[(String, FileAgg)]
  private var current: FileAgg = _
  private val joined = new JoinedRow

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit = {
    current = new FileAgg
    files += ((filePath, current))
  }

  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    // the projection copies a string it stores (a min/max taken from an
    // input row would otherwise point into a buffer the next row reuses)
    update.target(current.buffer).apply(joined(current.buffer, row))
    current.rows += 1
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    FileAggs(files.toSeq.collect { case (path, f) if f.rows > 0 =>
      (path.substring(path.lastIndexOf('/') + 1),
        toRow(result(f.buffer)).asInstanceOf[Row])
    })
}
