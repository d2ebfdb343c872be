package org.apache.spark.sql.graftglue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.api.Manifest.FileEntry

/**
 * The one reader of rename-evolved files. A lazy rename or drop rewrites no
 * data: each file keeps the physical column names it was written with and
 * records a physical→logical map. Files sharing a map form a rename group;
 * each group is scanned by Spark's own parquet scan requesting the group's
 * PHYSICAL names in LOGICAL field order, so every group's rows line up
 * positionally with the logical schema and the union is partition
 * concatenation — no per-row projection, no shuffle, vectorized readers
 * kept. Filters are re-addressed to each group's physical names, so
 * parquet row-group skipping survives renames; Spark re-evaluates every
 * filter post-scan, so pushdown is a pruning hint, never a correctness
 * dependency.
 *
 * The SQL zone-map scan, the SQL row-level COW scan and the changefeed
 * (`graft.sources.GraftStreamSource`) all read groups through here; each
 * names its group's physical columns by its own rule and hands over the
 * physical schema.
 */
object RenameGroups {

  /** Spark's parquet scan builder over `paths`, reading `schema`. */
  private[graftglue] def parquet(name: String, schema: StructType,
      paths: Seq[String], options: CaseInsensitiveStringMap)
      : ParquetScanBuilder =
    ParquetTable(name, SparkSession.active, CaseInsensitiveStringMap.empty(),
        paths.toList, Some(schema), classOf[ParquetFileFormat])
      .newScanBuilder(options).asInstanceOf[ParquetScanBuilder]

  /** A parquet scan over one group's `paths` reading `physical`, with
    * `filters` re-addressed from logical to physical column names. */
  def scan(name: String, paths: Seq[String], physical: StructType,
           filters: Seq[Expression], physicalName: String => String,
           options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
      : Scan = {
    val b = parquet(name, physical, paths, options)
    if (filters.nonEmpty) b.pushFilters(filters.map(_.transform {
      case a: AttributeReference => a.withName(physicalName(a.name))
    }))
    b.build()
  }

  /** The partitions of a group's scan, each carrying the group's reader
    * factory, so one [[GroupRoutingFactory]] serves groups whose physical
    * schemas differ. */
  def partitions(groupScan: Scan): Array[InputPartition] = {
    val batch = groupScan.toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().map(p => GroupPartition(p, factory))
  }

  /** The SQL scan builder over `files` of a table with logical `schema`:
    * Spark's plain parquet builder when every file is rename-free and
    * `grouped` is off, else a [[RenameGroupScanBuilder]]. */
  private[graftglue] def builder(name: String, schema: StructType,
      tdir: java.nio.file.Path, files: Seq[FileEntry],
      options: CaseInsensitiveStringMap,
      grouped: Boolean = false): GroupableBuilder = {
    val paths = (fs: Seq[FileEntry]) =>
      fs.map(f => graft.api.Table.resolvePath(tdir, f.path))
    if (!grouped && files.forall(_.renames.isEmpty))
      parquet(name, schema, paths(files), options)
    else new RenameGroupScanBuilder(name, schema,
      files.groupBy(_.renames).toSeq.map { case (r, fs) => (r, paths(fs)) },
      options)
  }

  /** What the zone-map builder needs of its inner builder. */
  private[graftglue] type GroupableBuilder = ScanBuilder
    with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns
}

/**
 * Scan builder over a rename-evolved file set: keeps the pruned columns and
 * the filters, and at `build()` translates both per group through
 * `FileEntry.physicalName`. Every filter stays a post-scan residual. It
 * offers no aggregate pushdown: parquet footer aggregates would name
 * physical columns.
 */
private[graftglue] class RenameGroupScanBuilder(
    name: String, schema: StructType,
    groups: Seq[(Map[String, String], Seq[String])],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {
  private var required = schema
  private var filters: Seq[Expression] = Nil

  override def pruneColumns(s: StructType): Unit = if (s.nonEmpty) required = s
  override def pushFilters(fs: Seq[Expression]): Seq[Expression] = {
    filters = fs
    fs
  }
  override def pushedFilters: Array[Predicate] = Array.empty

  override def build(): Scan = RenameGroupScan(required,
    groups.map { case (renames, paths) =>
      val phys = FileEntry.physicalName(renames, _: String)
      RenameGroups.scan(name, paths,
        StructType(required.fields.map(f => f.copy(name = phys(f.name)))),
        filters, phys, options)
    })
}

/** One parquet scan per rename group, partitions concatenated. Equality is
  * the group scans' (parquet's structural equality), so two plannings of
  * the same table yield equal batches, as broadcast and DPP reuse need. */
private[graftglue] case class RenameGroupScan(
    required: StructType, groupScans: Seq[Scan]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"RenameGroups(${groupScans.size}) " +
      groupScans.map(_.description()).mkString("; ")
  override def planInputPartitions(): Array[InputPartition] =
    groupScans.flatMap(RenameGroups.partitions).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    GroupRoutingFactory
}

/** An input partition bundled with the reader factory of the rename group
  * (and filter set) it was planned under. */
case class GroupPartition(inner: InputPartition,
                          factory: PartitionReaderFactory)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Routes each [[GroupPartition]] to the factory it carries. */
object GroupRoutingFactory extends PartitionReaderFactory {
  private def part(p: InputPartition): GroupPartition =
    p.asInstanceOf[GroupPartition]
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    part(p).factory.createReader(part(p).inner)
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    part(p).factory.createColumnarReader(part(p).inner)
  override def supportColumnarReads(p: InputPartition): Boolean =
    part(p).factory.supportColumnarReads(part(p).inner)
}
