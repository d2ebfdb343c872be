package org.apache.spark.sql.graftglue

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, MutableProjection, NamedExpression, SafeProjection, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/**
 * Parquet write that computes per-file statistics inside the write task:
 * each task keeps one aggregation buffer per file it writes and evaluates
 * the given Catalyst aggregates over exactly the rows that went into that
 * file, so nothing has to read the files back to learn what is in them.
 * The technique of Delta Lake's `DeltaJobStatisticsTracker`.
 */
object StatsWrite {

  /** Writes `df` as parquet files under the directory `path` and returns,
    * for every file holding at least one row, the file name and the global
    * aggregates `aggs` (e.g. `count(lit(1))`, `min(col("x"))`) evaluated over
    * that file's rows — what `df.write.parquet(path)` followed by a read-back
    * grouped by `input_file_name()` returns, without the read-back job.
    * Files come back in name order. Spark's empty-write marker file (an
    * empty partition 0) has no rows and is left out. */
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
    val plan = qe.executedPlan
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = path)
    SQLExecution.withNewExecutionId(qe, Some("parquet write with file stats")) {
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
    tracker.files.sortBy(_._1)
  }
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
  * are keyed by file NAME: the task writes under an attempt path that the
  * job commit renames into the output directory. */
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
