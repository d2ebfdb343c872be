package org.apache.spark.sql.graftglue

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference,
  NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey,
  InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns,
  SupportsReportPartitioning, SupportsReportStatistics,
  SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FilePartition}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.{And, EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * The SQL table of every manifest, with manifest zone-map FILE pruning: the
 * scan builder intercepts pushed filters, drops whole files whose
 * per-column min/max envelopes cannot match
 * (`graft.api.Table.pruneByZoneMaps` — the same pruning the API scan
 * applies in `Table.select`), and only then hands off to Spark's own
 * parquet builder over the kept paths. Parquet row-group pruning still
 * happens INSIDE each kept file (filters are forwarded verbatim), so this
 * adds the layer parquet cannot provide at 100 TB: not opening — not even
 * for a footer read — the files the manifest already proves empty for the
 * predicate. On a z-ordered or sorted table a selective SELECT through the
 * SQL catalog then touches a handful of files out of thousands, with zero
 * extra I/O spent deciding so.
 *
 * A scan that a FRESH projection covers reads the projection instead (the
 * reference server's transparent projection selection,
 * vastdb/tests/test_projections.py:102-125); every other scan keeps all
 * pruning layers — a projection never switches them off. Nor does a lazy
 * rename (the reference's transparent rename, vastdb/table.py:1010-1038):
 * when a kept file carries a rename map, the kept files are read per
 * rename group ([[RenameGroups]]), and zone-map stats are looked up
 * through `FileEntry.physicalName`.
 */
private[graftglue] class ZoneMapTable(
    tableName: String, tableSchema: StructType, tdir: java.nio.file.Path,
    m: graft.api.Manifest.TableManifest,
    // FRESH rollups only (stale ones are excluded at loadTable):
    // (meta, resolved data dir) for AggProjectionRewrite
    val aggRollups: Seq[(graft.api.Manifest.AggProjectionMeta, String)] = Nil)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  // declared partitioning surfaces in DESCRIBE and lets Catalyst know the
  // layout exists even before a scan is built
  override def partitioning(): Array[Transform] =
    if (m.bucketKeys.nonEmpty && m.bucketCount > 0)
      Array(Expressions.bucket(m.bucketCount, m.bucketKeys: _*))
    else Array.empty
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZoneMapScanBuilder(tableName, tableSchema, tdir, m, options)
}

/**
 * Push-down order is fixed by `V2ScanRelationPushDown` (filters →
 * aggregates → columns → build), so the inner builder is created lazily at
 * first use: by then the filter step has either run (and shrunk the file
 * list) or was skipped (no filters — nothing to prune). It is Spark's plain
 * parquet builder when every kept file is rename-free, else the
 * rename-group builder ([[RenameGroups.builder]]). Routing to
 * a covering projection is decided at `build()`, once the required columns
 * and filters are known.
 */
private[graftglue] class ZoneMapScanBuilder(
    tableName: String, tableSchema: StructType, tdir: java.nio.file.Path,
    m: graft.api.Manifest.TableManifest,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private[graftglue] def tableDir: java.nio.file.Path = tdir

  private var kept = m.files
  private var inner: RenameGroups.GroupableBuilder = _
  // replay state for runtime re-planning (dynamic partition pruning) and
  // projection routing: a parquet scan built over other files must repeat
  // exactly the static pushdown this builder saw
  private var savedFilters: Seq[Expression] = Nil
  private var savedRequired: Option[StructType] = None
  private var aggPushed = false

  private def builderOver(files: Seq[graft.api.Manifest.FileEntry],
                          grouped: Boolean = false) =
    RenameGroups.builder(tableName, tableSchema, tdir, files, options, grouped)

  /** `b` with the saved pushdown replayed, built. */
  private def replay(b: RenameGroups.GroupableBuilder): Scan = {
    if (savedFilters.nonEmpty) b.pushFilters(savedFilters)
    savedRequired.foreach(b.pruneColumns)
    b.build()
  }

  /** The static scan rebuilt over runtime-kept `files`. It stays grouped
    * when the static scan was, even if only rename-free files are left:
    * `BatchScanExec` caches the static reader factory at planning, and
    * the group routing factory reads only group partitions. */
  private[graftglue] def buildOver(files: Seq[graft.api.Manifest.FileEntry])
      : Scan = replay(builderOver(files,
        grouped = inner.isInstanceOf[RenameGroupScanBuilder]))

  private def innerB: RenameGroups.GroupableBuilder = {
    if (inner == null) inner = builderOver(kept)
    inner
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (inner == null) {
      // file pruning is keep-conservative: untranslatable filters prune
      // nothing, and matching semantics stay entirely with Spark — the
      // forwarded filters (and the post-scan residual Spark keeps) are
      // evaluated over the kept files exactly as without this layer
      val v1 = filters.flatMap(e => DataSourceStrategy.translateFilter(
        e, supportNestedPredicatePushdown = true))
      val cond = v1.flatMap(GraftFilters.filterToColumn).reduceOption(_ && _)
      cond.foreach(c => kept = graft.api.Table.pruneByZoneMaps(kept, c))
      kept = graft.api.Table.pruneByBucket(kept, tableSchema, m.bucketKeys,
        m.bucketCount, v1.flatMap(conjuncts).collect {
          case EqualTo(c, v) if v != null => (c, Seq(v))
          case In(c, vs) => (c, vs.toSeq)
        })
    }
    savedFilters = filters
    innerB.pushFilters(filters)
  }

  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case o => Seq(o)
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    innerB.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    savedRequired = Some(requiredSchema)
    innerB.pruneColumns(requiredSchema)
  }

  // only the plain parquet builder pushes aggregates: over rename groups,
  // footer aggregates would name physical columns
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val pushed = innerB match {
      case p: SupportsPushDownAggregates => p.pushAggregation(aggregation)
      case _ => false
    }
    aggPushed ||= pushed
    pushed
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    innerB match {
      case p: SupportsPushDownAggregates => p.supportCompletePushDown(aggregation)
      case _ => false
    }

  override def build(): Scan = {
    // an aggregate-pushdown scan emits footer-derived rows; runtime file
    // pruning would silently change its results, so serve it untouched
    if (aggPushed) return innerB.build()
    val filterRoots = savedFilters.flatMap(_.references.map(_.name)).toSet
    val needed =
      savedRequired.getOrElse(tableSchema).fieldNames.toSet ++ filterRoots
    graft.api.Table.coveringProjection(m.projections.filterNot(_.stale),
        needed, filterRoots) match {
      // projections hold the same rows as the base, so routing never
      // changes results; the filters stay post-scan residuals either way
      case Some(p) => replay(RenameGroups.parquet(tableName, tableSchema,
        Seq(graft.api.Table.resolvePath(tdir, p.dir)), options))
      case None => new ZoneMapRuntimeScan(this, tableName, kept, innerB.build(),
        m.bucketKeys, m.bucketCount)
    }
  }
}

/**
 * Scan wrapper adding RUNTIME file pruning (`SupportsRuntimeFiltering`):
 * when this table is the big side of a join whose other side carries a
 * selective filter, Spark's dynamic-partition-pruning planner ships the
 * surviving join keys here as an `IN` filter after the build side executes
 * — and the manifest zone maps then drop whole fact FILES before a single
 * byte is read. Static pruning handles WHERE k < c; this handles
 * `fact JOIN dim ON fact.k = dim.k WHERE dim.attr = x`, the dominant scan
 * shape of a star-schema query at 100 TB, where the selective predicate
 * sits on the wrong table for static pruning. Membership is tested
 * per-value (`Table.pruneByInSet`), not by collapsing the key set to an
 * envelope — scattered surviving keys keep ~|keys| files, not a range.
 *
 * The wrapper delegates everything else to the inner scan (parquet, or
 * one parquet scan per rename group) and REBUILDS it over the reduced file
 * list when a runtime filter lands (`buildOver` regroups the files and
 * replays the static pushdown, so pushed filters and pruned columns survive
 * re-planning). `toBatch` resolves through the CURRENT
 * inner scan on every call: `BatchScanExec` may cache the Batch object
 * before runtime filters arrive and re-plan partitions on it afterwards.
 */
class ZoneMapRuntimeScan private[graftglue] (
    builder: ZoneMapScanBuilder, private val tableName: String,
    initialKept: Seq[graft.api.Manifest.FileEntry], initialScan: Scan,
    bucketKeys: Seq[String] = Nil, bucketCount: Int = 0)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning {

  @volatile private var kept = initialKept
  @volatile private var inner = initialScan
  @volatile private[graftglue] var runtimePruned: Option[(Int, Int)] = None

  /** Post-prune file count — observability for specs and plan audits. */
  def keptFileCount: Int = kept.size

  /**
   * Bucket ids present after STATIC pruning, in order — the partition-key
   * set this scan commits to. Pinned before runtime filters: Spark requires
   * runtime filtering to preserve the partition-key set of a key-grouped
   * scan, so a runtime prune empties a bucket's group rather than dropping
   * it. None unless the table has a complete bucket layout (every kept file
   * carries a bucket id — any post-rewrite DML degrades to plain scanning —
   * and none carries a rename map: the regrouping below re-bins plain
   * parquet splits), there is at least one file, and the session has storage-partitioned
   * joins switched on (`spark.sql.sources.v2.bucketing.enabled`) — when
   * off, partition planning stays the parquet default (size-based splits),
   * so the feature is strictly opt-in.
   */
  private val bucketGroups: Option[Seq[Int]] =
    if (bucketKeys.nonEmpty && bucketCount > 0 && initialKept.nonEmpty &&
        initialKept.forall(f => f.bucket >= 0 && f.renames.isEmpty) &&
        org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled)
      Some(initialKept.map(_.bucket).distinct.sorted)
    else None

  /**
   * Key-grouped partitioning over `bucket(bucketCount, bucketKeys…)`: two
   * graft tables bucketed the same way join with ZERO exchange — Spark
   * matches the transform through the catalog's `bucket` function
   * ([[GraftBucketFunction]]) and aligns the per-bucket file groups from
   * [[planInputPartitions]] side by side. At 100 TB this turns the nightly
   * fact-fact join from "shuffle both tables across the cluster" into
   * "stream co-located files", the same storage-partitioned-join contract
   * Spark defines for V2 sources.
   */
  override def outputPartitioning(): Partitioning = bucketGroups match {
    case Some(groups) => new KeyGroupedPartitioning(
      Array(Expressions.bucket(bucketCount, bucketKeys: _*)), groups.size)
    case None => new UnknownPartitioning(0)
  }

  /**
   * Without this, wrapping the parquet scan hides its
   * `SupportsReportStatistics` and the V2 relation falls back to
   * `spark.sql.defaultSizeInBytes` (~Long.Max): small catalog tables stop
   * broadcasting statically, and DPP — which by default only reuses an
   * existing broadcast — degenerates to `dynamicpruningexpression(true)`.
   * The manifest already records exact bytes+rows per file, so report the
   * sum over the KEPT entries: tighter than parquet's own estimate, since
   * it prices the static zone-map file prune into the plan.
   */
  override def estimateStatistics(): Statistics = {
    val files = kept
    val bytes = files.iterator.map(_.bytes).sum
    val rows = files.iterator.map(_.rows).sum
    if (bytes > 0 || files.isEmpty) new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    } else inner match {
      // manifests from before FileEntry.bytes existed record 0 — fall back
      // to the parquet scan's own (filesystem-derived) estimate
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows)
      }
    }
  }

  override def filterAttributes(): Array[NamedReference] = {
    // only columns with zone-map stats in some kept file can ever prune —
    // advertising more would buy DPP subquery overhead for nothing. Also
    // restricted to the READ schema: the planner resolves these refs
    // against the column-pruned relation output and THROWS on any column
    // the scan no longer outputs (a join key is always read, so this never
    // hides a pruning opportunity). Stats are keyed by physical name.
    readSchema().fieldNames.distinct.sorted
      .filter(c => kept.exists(f => f.colStats.contains(f.physicalName(c))))
      .map(FieldReference.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val before = kept.size
    filters.foreach {
      case In(col, values) =>
        kept = graft.api.Table.pruneByInSet(kept, col, values.toSeq)
      case f =>
        GraftFilters.filterToColumn(f).foreach(c =>
          kept = graft.api.Table.pruneByZoneMaps(kept, c))
    }
    runtimePruned = Some((before, kept.size))
    if (kept.size < before) inner = builder.buildOver(kept)
  }

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = {
    val rt = runtimePruned.map { case (b, a) =>
      s", runtime-pruned $b->$a files" }.getOrElse("")
    s"ZoneMap(${kept.size} files$rt) " + inner.description()
  }
  // The scan IS its own Batch (like FileScan): `BatchScanExec` caches
  // `scan.toBatch` and compares plans through it — broadcast-exchange reuse
  // (and with it DPP under AQE's reuse-only default) needs two plannings of
  // the same table to yield EQUAL batches, so toBatch must be stable and
  // equality structural. Partition planning still resolves through the
  // CURRENT inner scan on every call, because a runtime filter may rebuild
  // it after the Batch object was cached.
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    bucketGroups match {
      case None => inner.toBatch.planInputPartitions()
      case Some(groups) =>
        // regroup the parquet scan's size-based splits into one partition
        // per bucket: a file belongs to exactly one bucket (manifest
        // invariant), so flattening the splits and re-binning by the
        // file→bucket map loses nothing parquet planned — row-group
        // pruning and pushed filters live in the reader, not the split.
        // Buckets whose files were all runtime-pruned still emit an empty
        // group: Spark requires the partition-key set to be stable across
        // runtime filtering.
        val byPath: Map[String, Int] = initialKept.iterator.map { f =>
          (graft.api.Table.resolvePath(builder.tableDir, f.path), f.bucket)
        }.toMap
        val files = inner.toBatch.planInputPartitions().flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"unexpected non-file partition under a bucketed scan: $other")
        }
        val binned = files.groupBy(pf => byPath.getOrElse(
          pf.toPath.toUri.getPath,
          throw new IllegalStateException(
            s"file ${pf.toPath} missing from the bucket manifest")))
        groups.zipWithIndex.map { case (b, i) =>
          GraftBucketedPartition(b,
            FilePartition(i, binned.getOrElse(b, Array.empty)))
        }.toArray[InputPartition]
    }
  override def createReaderFactory(): PartitionReaderFactory = {
    val base = inner.toBatch.createReaderFactory()
    if (bucketGroups.isEmpty) base else new UnwrapReaderFactory(base)
  }

  override def equals(other: Any): Boolean = other match {
    case z: ZoneMapRuntimeScan =>
      tableName == z.tableName && inner.toBatch == z.inner.toBatch
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(tableName, inner.toBatch)
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
}

/**
 * One bucket's worth of parquet splits, tagged with its partition key so
 * `BatchScanExec` can group scans by bucket and plan storage-partitioned
 * joins. Wraps (rather than extends) `FilePartition`: the parquet reader
 * factory pattern-matches on the exact `FilePartition` shape, so
 * [[UnwrapReaderFactory]] unwraps before delegating.
 */
private[graftglue] case class GraftBucketedPartition(
    bucket: Int, inner: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private[graftglue] class UnwrapReaderFactory(base: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case GraftBucketedPartition(_, fp) => fp
    case other => other
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    base.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    base.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    base.supportColumnarReads(unwrap(p))
}
