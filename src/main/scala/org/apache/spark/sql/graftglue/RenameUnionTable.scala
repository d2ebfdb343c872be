package org.apache.spark.sql.graftglue

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * DSv2 table over a rename-evolved graft table: manifest files are grouped
 * by their per-file physical→logical rename map; each group is scanned by
 * Spark's own ParquetTable with the group's PHYSICAL column names requested
 * in LOGICAL field order, so every group's rows line up positionally with
 * the logical schema and the union is just partition concatenation — no
 * per-row projection, no shuffle, vectorized readers preserved.
 *
 * (The reference's lazy rename is fully transparent to queries,
 * /root/reference/vastdb/table.py:1010-1038; this makes the SQL surface
 * match.) Column pruning AND data filters are pushed per group, each
 * translated through the group's rename map (logical attribute names
 * rewritten to the group's physical names), so parquet row-group skipping
 * survives renames. Spark still re-evaluates every filter post-scan
 * (pushFilters returns all filters as residual) — pushdown is a pruning
 * hint, never a correctness dependency.
 */
private[graftglue] class RenameUnionTable(
    tableName: String,
    logicalSchema: StructType,
    groups: Seq[(Map[String, String], Seq[String])],
    // fresh ROLLUPS for AggProjectionRewrite: a rebuild-after-rename rollup
    // is rename-FREE (physical names = current logical names), so covered
    // aggregates route even while the base files still need rename maps
    val aggRollups: Seq[(graft.api.Manifest.AggProjectionMeta, String)] = Nil)
    extends Table with SupportsRead with HasAggRollups {

  override def name(): String = tableName
  override def schema(): StructType = logicalSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var required: StructType = logicalSchema
      private var toPush: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
      override def pruneColumns(s: StructType): Unit =
        if (s.nonEmpty) required = s
      override def pushFilters(
          filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        toPush = filters
        filters // everything stays a post-scan filter: pushdown is advisory
      }
      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty
      override def build(): Scan =
        new RenameUnionScan(tableName, required, groups, toPush)
    }
}

private[graftglue] class RenameUnionScan(
    tableName: String,
    required: StructType,
    groups: Seq[(Map[String, String], Seq[String])],
    filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft rename-union over ${groups.size} file groups, " +
      s"pushed ${filters.size} filters per group"

  /** Sum of the delegate parquet scans' estimates. Without this the union
    * scan hides its delegates' `SupportsReportStatistics` and the relation
    * falls back to `spark.sql.defaultSizeInBytes` — a rename-evolved dim
    * table would silently stop broadcasting in static plans. */
  override def estimateStatistics(): Statistics = {
    val stats = groupScans.map {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => null
    }
    def total(f: Statistics => java.util.OptionalLong): java.util.OptionalLong =
      if (stats.forall(s => s != null && f(s).isPresent))
        java.util.OptionalLong.of(stats.map(s => f(s).getAsLong).sum)
      else java.util.OptionalLong.empty()
    val (bytes, rows) = (total(_.sizeInBytes()), total(_.numRows()))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  // one delegated parquet scan per rename group: the group's physical names
  // (FileEntry.physicalName — the rule Table.readEntries uses) are requested
  // in logical field order, and each filter is re-addressed to the same
  // physical names so the delegate can translate it into parquet row-group
  // pruning
  private lazy val groupScans: Seq[Scan] = groups.map { case (renames, paths) =>
    val phys = StructType(required.fields.map(f =>
      f.copy(name = graft.api.Manifest.FileEntry.physicalName(renames, f.name))))
    val pt = ParquetTable(tableName, SparkSession.active,
      CaseInsensitiveStringMap.empty(), paths.toList, Some(phys),
      classOf[ParquetFileFormat])
    val sb = pt.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb match {
      case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        val translated = filters.map(_.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.withName(graft.api.Manifest.FileEntry.physicalName(renames, a.name))
        })
        f.pushFilters(translated)
      case _ => ()
    }
    sb.build()
  }

  private lazy val groupBatches: Seq[Batch] = groupScans.map(_.toBatch)

  override def planInputPartitions(): Array[InputPartition] =
    groupBatches.zipWithIndex.flatMap { case (b, gi) =>
      b.planInputPartitions().map(p => GroupInputPartition(gi, p))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GroupReaderFactory(groupBatches.map(_.createReaderFactory()).toArray)
}

/** An input partition tagged with its rename-group index so the factory can
  * route it to the delegate built with the matching physical schema. */
private[graftglue] case class GroupInputPartition(group: Int, inner: InputPartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private[graftglue] class GroupReaderFactory(factories: Array[PartitionReaderFactory])
    extends PartitionReaderFactory {
  private def route(p: InputPartition): (PartitionReaderFactory, InputPartition) = {
    val gp = p.asInstanceOf[GroupInputPartition]
    (factories(gp.group), gp.inner)
  }
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (f, inner) = route(p); f.createReader(inner)
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val (f, inner) = route(p); f.createColumnarReader(inner)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (f, inner) = route(p); f.supportColumnarReads(inner)
  }
}
