package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{Glue, StatsWrite}
import org.apache.spark.sql.types._

import graft.api.Manifest._
import graft.dml.Dml
import graft.functions.Distances
import graft.types.TypeMapping.RowIdColumn

/** Scan-time knobs (reference QueryConfig, vastdb/config.py:22-58). Split
  * sizing maps to Spark partition sizing; projection knobs mirror
  * use_semi_sorted_projections / semi_sorted_projection_name. */
case class QueryConfig(rowsPerSplit: Long = 4000000L,
                       useSemiSortedProjections: Boolean = true,
                       semiSortedProjectionName: Option[String] = None,
                       limitRows: Option[Long] = None,
                       queuePriority: Option[String] = None,
                       queryId: Option[String] = None)

case class TableStats(numRows: Long, sizeBytes: Long, sortingScore: Double,
                      sortingDone: Boolean, numFiles: Int)

/**
 * Table handle bound to a transaction (reference TableInTransaction,
 * vastdb/table.py:186-907). Columnar Parquet storage, `_row_id`-addressed
 * DML via copy-on-write limited to the files whose row-id range intersects
 * the batch (manifest tracks per-file min/max `_row_id`), semi-sorted
 * projections with an automatic picker, sorted (Elysium-style) rewrite with
 * a progress score, vector search, blob expansion, and a per-table imports
 * side table.
 */
class Table private[api] (val schemaNS: SchemaNS, val name: String, val dir: Path) {
  def tx: Transaction = schemaNS.tx
  def spark: SparkSession = tx.session.spark
  private def dataDir: Path = dir.resolve("data")

  def manifest: TableManifest = tx.manifestFor(dir)
  def schema: StructType = manifest.schema

  /** Sorting-key columns as schema fields (reference sorted_columns,
    * vastdb/table.py:265-272). */
  def sortedColumns: Seq[StructField] = {
    val m = manifest
    m.sortingKeys.flatMap(k => m.schema.fields.find(_.name == k))
  }

  /** Drop this table's pinned manifest so the next access re-reads CURRENT —
    * the reference's reload_schema/reload_stats (vastdb/table.py:226-250):
    * an explicit, caller-chosen break of the transaction's repeatable-read
    * pin to observe concurrent commits. Refused once this transaction has
    * staged writes for the table: manifestFor serves the writeSet first, so
    * a reload would silently not happen — and dropping the read pin would
    * corrupt the commit's CAS base version. */
  def reload(): Unit = {
    tx.requireActive()
    if (tx.writeSet.contains(dir.toString))
      throw NotSupportedCommand(
        s"reload of $name with staged writes would discard them; commit first")
    tx.readSet.remove(dir.toString)
    ()
  }

  /** Detached metadata handle over this table's pinned manifest (reference
    * TableMetadata, /root/reference/vastdb/table_metadata.py:54-226) —
    * outlives this transaction; re-bind into a later one with
    * `Transaction.tableFromMetadata` (zero manifest reads) or refresh with
    * `TableMetadata.load`. Costs nothing beyond the pin this transaction
    * already holds. */
  def metadata: TableMetadata = {
    // refuse with staged writes (same contract as reload): a handle built
    // from an uncommitted manifest would outlive a rollback and carry
    // file references that no longer exist
    if (tx.writeSet.contains(dir.toString))
      throw NotSupportedCommand(
        s"metadata of $name with staged writes; commit first")
    val b = schemaNS.bucket
    new TableMetadata(b.name, schemaNS.path, name, manifest)
  }

  private def dataRoot: Path = Table.dataRootFor(dir)

  private[api] def resolveDataPath(p: String): String = Table.resolvePath(dir, p)

  // ------------------------------------------------------------------ scan

  /** Read a set of file entries reconciling schema evolution: files are
    * grouped by their rename map; each group is read with its physical
    * schema (missing columns null-filled by the parquet reader) then
    * aliased back to logical names. */
  private def readEntries(entries: Seq[FileEntry], logical: StructType,
                          session: SparkSession = spark): DataFrame = {
    val withRid = if (logical.fieldNames.contains(RowIdColumn)) logical
      else logical.add(StructField(RowIdColumn, LongType, nullable = false))
    if (entries.isEmpty)
      return session.createDataFrame(
        session.sparkContext.emptyRDD[Row], withRid)
    entries.groupBy(_.renames).map { case (renames, group) =>
      val phys = StructType(withRid.fields.map(f =>
        f.copy(name = FileEntry.physicalName(renames, f.name))))
      session.read.schema(phys).parquet(group.map(e => resolveDataPath(e.path)): _*)
        .toDF(withRid.fieldNames.toSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Projection picker: `QueryConfig` can switch projections off or name
    * one; otherwise [[Table.coveringProjection]] decides. Stale projections
    * (base table mutated since the last build/refresh) never serve a scan —
    * even when named explicitly — since they'd return missing/deleted/old
    * rows; the base scan is the correct fallback. */
  private def pickProjection(m: TableManifest, needed: Set[String],
                             predRoots: Set[String],
                             config: QueryConfig): Option[ProjectionMeta] = {
    if (!config.useSemiSortedProjections) return None
    val fresh = m.projections.filterNot(_.stale)
    config.semiSortedProjectionName match {
      case Some(n) => fresh.find(_.name == n)
      case None => Table.coveringProjection(fresh, needed, predRoots)
    }
  }

  private def predicateRoots(predicate: Column): Set[String] =
    Glue.referencedRoots(predicate)

  /** Zone-map file pruning (delegates to [[Table.pruneByZoneMaps]], which
    * the SQL row-level COW path also uses for static group pruning). */
  private[graft] def pruneByZoneMaps(entries: Seq[FileEntry],
                                     predicate: Column): Seq[FileEntry] =
    Table.pruneByZoneMaps(entries, predicate)

  /** Filtered+projected scan (reference `select`, vastdb/table.py:571-704).
    * Catalyst/Parquet take over everything the reference hand-rolls: splits
    * = file partitions, predicate/projection pushdown, limit short-circuit. */
  def select(columns: Seq[String] = Nil,
             predicate: Column = lit(true),
             internalRowId: Boolean = false,
             config: QueryConfig = QueryConfig()): DataFrame = {
    val m = manifest
    val logical = m.schema
    val cols = if (columns.isEmpty) logical.fieldNames.toSeq else columns
    val roots = predicateRoots(predicate)
    val needed = cols.toSet ++ roots

    // queuePriority → Spark's fair-scheduler pool, which is inherently a
    // thread-local property consumed at JOB SUBMISSION (i.e. when an action
    // runs on the returned DataFrame, usually on this same thread) — a
    // save/restore here would fire before any job is submitted and disable
    // the feature. Thread-sticky semantics are Spark's own contract for
    // scheduler pools; it does NOT touch session conf.
    config.queuePriority.foreach(p =>
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", p))

    // queryId → Spark job group (reference QueryConfig.query_id threads an id
    // through its RPCs for tracing/cancellation; the job group is the engine
    // analog — UI-visible and cancellable via cancelJobGroup). Thread-sticky
    // at submission, same contract as the scheduler pool above.
    config.queryId.foreach(q =>
      spark.sparkContext.setJobGroup(q, s"graft query $q",
        interruptOnCancel = false))

    // rowsPerSplit → partition sizing (reference QueryConfig.rows_per_split,
    // vastdb/config.py:50): rows × the manifest's observed bytes/row becomes
    // the file-partition byte target. Spark reads maxPartitionBytes lazily at
    // plan time, so the knob is set on a CLONED session (shared context +
    // catalog, independent SQLConf) that only this scan's DataFrame is bound
    // to — the caller's session conf is never mutated.
    val scanSession: SparkSession =
      if (config.rowsPerSplit != QueryConfig().rowsPerSplit && m.files.nonEmpty) {
        val probe = m.files.head
        val bytes = try Files.size(Paths.get(resolveDataPath(probe.path)))
          catch { case _: Exception => 0L }
        if (bytes > 0 && probe.rows > 0) {
          val target = math.max(1L << 16,
            config.rowsPerSplit * math.max(1L, bytes / math.max(1L, probe.rows)))
          Glue.scopedSession(spark,
            Map("spark.sql.files.maxPartitionBytes" -> target.toString))
        } else spark
      } else spark

    val base = pickProjection(m, needed, roots, config) match {
      case Some(p) =>
        val pdir = resolveDataPath(p.dir)
        val projSchema = StructType(logical.fields.filter(f => p.columns.contains(f.name)))
        scanSession.read.schema(projSchema.add(RowIdColumn, LongType)).parquet(pdir)
      case None =>
        val eqs = Glue.rangeConstraints(predicate)
          .collect { case (c, "=", v) if v != null => (c, Seq(v)) }
        readEntries(Table.pruneByBucket(pruneByZoneMaps(m.files, predicate),
          logical, m.bucketKeys, m.bucketCount, eqs), logical, scanSession)
    }
    val projected = base.filter(predicate)
      .select((if (internalRowId) RowIdColumn +: cols else cols).map(col): _*)
    config.limitRows.fold(projected)(n =>
      projected.limit(math.min(n, Int.MaxValue.toLong).toInt))
  }

  /** Split-wise scan: one DataFrame per row-id range, for callers that
    * manage their own parallelism (reference select_splits for Trino-style
    * engine integration, vastdb/table.py:536-569). Under Spark the normal
    * path is a single DataFrame — partitioning is the engine's job — so each
    * split here is just a row-id-range predicate over the same files, which
    * parquet row-group stats prune. */
  def selectSplits(numSplits: Int,
                   columns: Seq[String] = Nil,
                   predicate: Column = lit(true)): Seq[DataFrame] = {
    val m = manifest
    val hi = m.nextRowId
    val per = math.max(1L, (hi + numSplits - 1) / numSplits)
    (0L until numSplits.toLong).map { i =>
      val lo = i * per
      select(columns, predicate, internalRowId = true)
        .filter(col(RowIdColumn) >= lo && col(RowIdColumn) < math.min(hi, lo + per))
    }
  }

  /** Row-count estimate without touching all the data (reference probe
    * split, vastdb/table.py:442-458): trivial predicates answer from the
    * manifest (zero Spark jobs); filtered estimates prune candidate files by
    * zone maps, then probe a BOUNDED file subset for selectivity and
    * extrapolate — cost is O(probe files), not O(table). */
  def estimateRowCount(predicate: Column = lit(true)): Long = {
    val m = manifest
    if (Glue.isLiteralTrue(predicate)) return m.totalRows
    val pruned = pruneByZoneMaps(m.files, predicate)
    if (pruned.isEmpty) return 0L
    // probe a SPREAD of files (first/middle/last), not the head of the list:
    // predicates correlated with insertion order (e.g. time filters with no
    // zone stats) would make the two oldest files match 0 rows and collapse
    // the estimate to 0 even when millions of newer rows match
    val probe = (if (pruned.size <= 3) pruned
      else Seq(pruned.head, pruned(pruned.size / 2), pruned.last)).distinct
    val probeRows = probe.map(_.rows).sum
    if (probeRows == 0) return 0L
    val matched = readEntries(probe, m.schema).filter(predicate).count()
    val total = pruned.map(_.rows).sum
    val est = math.round(matched.toDouble / probeRows * total)
    // floor at 1 only when EXTRAPOLATING from a proper subset ("about zero",
    // not "provably empty"); an exhaustive probe that matched 0 is an exact 0
    if (matched == 0 && probeRows < total) 1L else est
  }

  def stats: TableStats = {
    val m = manifest
    // manifest-recorded sizes when available; a per-file filesystem stat
    // only for legacy entries written before `bytes` existed
    val size = m.files.map(f =>
      if (f.bytes > 0) f.bytes
      else try Files.size(Paths.get(resolveDataPath(f.path)))
      catch { case _: Exception => 0L }).sum
    val hasLayout = m.sortingKeys.nonEmpty || m.clusteringKeys.nonEmpty ||
      m.bucketKeys.nonEmpty
    val sortedFrac =
      if (!hasLayout || m.files.isEmpty) 0.0
      else if (m.bucketKeys.nonEmpty)
        m.files.count(_.bucket >= 0).toDouble / m.files.size
      else m.files.count(_.sorted).toDouble / m.files.size
    TableStats(m.totalRows, size, sortedFrac,
      hasLayout && sortedFrac == 1.0, m.files.size)
  }

  // ------------------------------------------------------------------ write

  /** Kind + normalized column for zone-map stats over a data type. */
  private def statKind(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case TimestampType | TimestampNTZType | DateType => Some("long") // micros / days
    case _ => None
  }

  private def statCol(name: String, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(col(name))
    // WALL-CLOCK micros via a UTC-pinned cast — `col.cast("timestamp")`
    // would go through the SESSION timezone, making the stored stat shift
    // with whatever tz an embedder runs under while the ntz literal on the
    // pruning side never shifts (silently over-pruning). With wall-clock
    // micros, ntz-vs-ntz comparisons are tz-independent; only cross-type
    // (ntz column vs tz literal) predicates keep the engine's pinned-UTC
    // assumption, same as Glue.rangeConstraints' literal eval
    case TimestampNTZType =>
      org.apache.spark.sql.graftglue.Glue.column(
        org.apache.spark.sql.catalyst.expressions.UnixMicros(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.graftglue.Glue.expression(col(name)),
            TimestampType, Some("UTC"))))
    case DateType => datediff(col(name), lit("1970-01-01").cast("date"))
    // float→double is EXACT and double→string round-trips; casting the
    // float itself to string would store its shortest decimal form, which
    // re-parsed as a double shifts the bound and can prune matching files
    case FloatType => col(name).cast("double")
    case _ => col(name)
  }

  /** Longest string value a manifest zone map will store. Longer values
    * (e.g. document bodies, URLs) keep a truncated-prefix MIN — a prefix is
    * byte-wise ≤ the original, so still a sound lower bound — and mark the
    * MAX unbounded (a truncated upper bound would be unsound). Range scans
    * on long-string sorting keys keep their lower-bound pruning. */
  private val MaxStringStat = 64

  /** Truncate to ≤ MaxStringStat chars without splitting a surrogate pair
    * (a lone high surrogate re-encodes as U+FFFD, which is not a byte-wise
    * prefix of the original and would break bound soundness). */
  private def truncStat(s: String): String =
    if (s.length <= MaxStringStat) s
    else {
      val cut = if (Character.isHighSurrogate(s.charAt(MaxStringStat - 1)))
        MaxStringStat - 1 else MaxStringStat
      s.substring(0, cut)
    }

  /** Route a batch into the declared hash-bucket layout, when one exists
    * and the batch carries the keys: the BATCH (never the table) shuffles
    * into one partition per bucket — so appends and COW rewrites keep the
    * layout live and storage-partitioned joins never degrade under normal
    * DML. The per-file bucket id is re-derived from the written rows like
    * every bucket write ([[optimizeBuckets]]). Identity for unbucketed
    * tables. */
  private def bucketized(df: DataFrame,
                         m: TableManifest): (DataFrame, Option[Column]) =
    if (m.bucketKeys.nonEmpty && m.bucketCount > 0 &&
        m.bucketKeys.forall(df.columns.contains)) {
      val kc = m.bucketKeys.map(col)
      (df.repartition(m.bucketCount, kc: _*).sortWithinPartitions(kc: _*),
        Some(pmod(hash(kc: _*), lit(m.bucketCount))))
    } else (df, None)

  /** Write a DataFrame (logical schema + `_row_id`) as immutable data files;
    * returns manifest entries with per-file row-id ranges and zone maps for
    * EVERY primitive column, so `pruneByZoneMaps` serves ad-hoc predicates
    * on unsorted columns, not just the sorting keys. The entries are
    * computed inside the write tasks ([[StatsWrite]]) from the same
    * aggregates [[statsEntries]] runs over a read-back: no job reads the
    * written files again. */
  private def writeData(df: DataFrame, sorted: Boolean,
                        bucketOf: Option[Column] = None): Seq[FileEntry] = {
    // a full UUID: the write owns its directory, and an aborting write
    // deletes it (see StatsWrite)
    val batch = dataDir.resolve("b-" + UUID.randomUUID().toString)
    val zoneCols = zoneColumns(df.schema)
    StatsWrite.parquet(df, batch.toString, statAggs(df.schema, zoneCols, bucketOf))
      .map { case (name, r) =>
        fileEntry(batch.resolve(name).toString, r, zoneCols, sorted, bucketOf.isDefined)
      }
  }

  /** Manifest entries for an already-written parquet dir, from one columnar
    * stats pass over a read-back: the SQL row-level COW's files
    * (`adoptReplacement`), which Spark's own distributed write staged. */
  private[graft] def statsEntries(batch: Path, schema: StructType,
                                sorted: Boolean,
                                bucketOf: Option[Column] = None): Seq[FileEntry] = {
    val zoneCols = zoneColumns(schema)
    val aggs = statAggs(schema, zoneCols, bucketOf)
    // schema-pinned read: an EMPTY batch writes no part files and unpinned
    // inference would throw instead of yielding zero entries
    spark.read.schema(schema).parquet(batch.toString)
      .groupBy(input_file_name().as("f")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val path = r.getString(0).stripPrefix("file://").stripPrefix("file:")
        fileEntry(path, r, zoneCols, sorted, bucketOf.isDefined)
      }
  }

  /** (column, stat kind) of every column a zone map covers; the row-id
    * range is tracked as lo/hi already. */
  private def zoneColumns(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.filter(_.name != RowIdColumn)
      .flatMap(f => statKind(f.dataType).map(kind => (f.name, kind)))

  /** The per-file aggregates behind a manifest entry: row count, row-id
    * range, zone-map min/max as strings, and the bucket range. */
  private def statAggs(schema: StructType, zoneCols: Seq[(String, String)],
                       bucketOf: Option[Column]): Seq[Column] =
    Seq(count(lit(1)).as("rows"), min(col(RowIdColumn)).as("lo"),
      max(col(RowIdColumn)).as("hi")) ++
    zoneCols.flatMap { case (k, _) =>
      val c = statCol(k, schema(k).dataType)
      Seq(min(c).cast("string").as(s"__mn_$k"), max(c).cast("string").as(s"__mx_$k"))
    } ++ bucketOf.toSeq.flatMap(b =>
      // derived from the DATA, not trusted from partitioning arithmetic:
      // min == max is asserted below, so a mis-partitioned write cannot
      // silently record a wrong bucket and corrupt shuffle-free joins
      Seq(min(b).as("__bkt_lo"), max(b).as("__bkt_hi")))

  /** Manifest entry of one written file (absolute `path`) from its
    * [[statAggs]] row. */
  private def fileEntry(path: String, r: Row, zoneCols: Seq[(String, String)],
                        sorted: Boolean, bucketed: Boolean): FileEntry = {
    tx.newFiles += path // rollback cleanup needs the absolute path
    // manifests store dir-relative paths so a staged rename can move the
    // whole table dir atomically at commit without breaking entries
    val prefix = dir.toString + "/"
    val rel = if (path.startsWith(prefix)) path.substring(prefix.length) else path
    val stats = zoneCols.flatMap { case (k, kind) =>
      val mn = r.getAs[String](s"__mn_$k")
      val mx = r.getAs[String](s"__mx_$k")
      if (mn == null || mx == null) None
      else if (kind == "string")
        Some(k -> ColStat(truncStat(mn), truncStat(mx), kind,
          maxUnbounded = mx.length > MaxStringStat))
      else Some(k -> ColStat(mn, mx, kind))
    }.toMap
    val bucket = if (!bucketed) -1 else {
      val lo = r.getAs[Int]("__bkt_lo"); val hi = r.getAs[Int]("__bkt_hi")
      if (lo != hi) throw new IllegalStateException(
        s"bucket rewrite produced a mixed file ($rel: buckets $lo..$hi) — " +
          "hash partitioning did not align with the bucket count")
      lo
    }
    FileEntry(rel, r.getAs[Long]("rows"), r.getAs[Long]("lo"),
      r.getAs[Long]("hi"), sorted = sorted, colStats = stats,
      bytes = try Files.size(Paths.get(path)) catch { case _: Exception => 0L },
      bucket = bucket)
  }

  /** Contiguous `_row_id` assignment from the table's high-water mark
    * (reference allocates 0..n-1 on first insert, vastdb/tests/util.py:175-180).
    * Per-partition offsets via zipWithIndex — no global sort, no driver
    * collect of data. A multi-partition batch pays one counting job for the
    * offsets. A small driver-held batch never comes here: its ids are
    * appended on the driver (see [[smallLocal]]). */
  private def assignRowIds(df: DataFrame, start: Long): DataFrame = {
    val schemaOut = StructType(df.schema.fields :+
      StructField(RowIdColumn, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (start + i))
    }
    spark.createDataFrame(rdd, schemaOut)
  }

  /** Insert (reference vastdb/table.py:739-777). Returns allocated row-id
    * range [start, start+n). If the batch already carries `_row_id`, those
    * ids are used verbatim (the reference's external `vastdb_rowid` path,
    * vastdb/schema.py:90-92, tests/test_tables.py:1055-1073) and the
    * high-water mark advances past their max. */
  def insert(rows: DataFrame): (Long, Long) = writeBatch(rows, replace = false)

  /** Replace the table's entire contents in ONE transactional step (SQL
    * INSERT OVERWRITE; truncate = overwrite with an empty batch). Row ids
    * keep advancing monotonically from the pre-overwrite high-water mark —
    * ids are never reused, so stale external row-id references can't
    * silently re-resolve to unrelated rows. */
  def overwrite(rows: DataFrame): (Long, Long) = writeBatch(rows, replace = true)

  /** The rows of a batch that is already on the driver (its optimized plan
    * is a `LocalRelation`: `createDataFrame` of a local collection, or SQL
    * `INSERT … VALUES`) and no larger than `spark.sql.files.openCostInBytes`
    * — Spark's own estimate of what opening one file costs, in bytes
    * scanned. Such a batch is written as ONE partition: one write task, one
    * file. `LocalTableScan` would otherwise slice it to `defaultParallelism`
    * files that every later read opens. Its row ids are appended to the
    * local rows on the driver: no RDD stage, no `zipWithIndex`. Unless a
    * sort or a bucket layout sits above it, the coalesced batch reaches
    * [[StatsWrite]] as a `LocalRelation` under `coalesce(1)`, and its one
    * write task runs on the driver: no Spark job. Computed plans are left
    * alone: their size estimate can be far below their real size, and
    * `coalesce(1)` would pull their whole upstream onto one core. */
  private def smallLocal(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation
          if r.stats.sizeInBytes <= spark.sessionState.conf.filesOpenCostInBytes => Some(r)
      case _ => None
    }

  private def writeBatch(rows: DataFrame, replace: Boolean): (Long, Long) = {
    val m = manifest
    val logical = m.schema
    val op = if (replace) "overwrite" else "insert"
    def stage(entries: Seq[FileEntry], nextId: Long): Unit =
      stageContent(m, (if (replace) Seq.empty else m.files) ++ entries, nextId)
    val explicitIds = rows.columns.contains(RowIdColumn)
    val aligned = rows.select(
      ((if (explicitIds) Seq(RowIdColumn) else Nil) ++ logical.fieldNames).map(col): _*)
    val local = smallLocal(aligned)
    if (explicitIds) {
      // a NULL id would be stored unaddressable, its file's range recorded
      // as [0, 0]: fail before writing rows the driver holds (the batch
      // stays a plain coalesced LocalRelation, which StatsWrite writes on
      // the driver), and inside the write task otherwise (no extra job)
      val nullId = s"$op: explicit $RowIdColumn is NULL; every row needs a non-NULL id"
      val checked = local match {
        case Some(r) =>
          val id = r.output.indexWhere(_.name == RowIdColumn)
          if (r.data.exists(_.isNullAt(id))) throw new IllegalArgumentException(nullId)
          aligned.coalesce(1)
        case None => aligned.withColumn(RowIdColumn,
          when(col(RowIdColumn).isNull, raise_error(lit(nullId))).otherwise(col(RowIdColumn)))
      }
      val (bAligned, bOf) = bucketized(checked, m)
      val entries = writeData(bAligned, sorted = false, bOf)
      if (entries.isEmpty) {
        // a 0-row overwrite is a TRUNCATE and must still stage; a 0-row
        // insert stages nothing
        if (replace) { stage(Nil, m.nextRowId); recordAudit(op, 0) }
        return (m.nextRowId, m.nextRowId)
      }
      val hi = entries.map(_.maxRowId).max + 1
      stage(entries, math.max(m.nextRowId, hi))
      maintainBlobExpansions(m, checked)
      recordAudit(op, entries.map(_.rows).sum)
      return (entries.map(_.minRowId).min, hi)
    }
    val start = m.nextRowId
    val withIds = local match {
      case Some(r) => Glue.withRowIds(spark, r, RowIdColumn, start).coalesce(1)
      case None => assignRowIds(aligned, start)
    }
    val sortedWrite = m.sortingKeys.nonEmpty &&
      m.sortingKeys.forall(logical.fieldNames.contains)
    val data = if (sortedWrite)
      withIds.sortWithinPartitions(m.sortingKeys.map(col): _*) else withIds
    val (bData, bOf) = bucketized(data, m)
    val entries = writeData(bData, sorted = false, bOf)
    val n = entries.map(_.rows).sum
    if (n == 0 && !replace) return (start, start) // 0-row insert: nothing to stage
    stage(entries, start + n)
    maintainBlobExpansions(m, withIds)
    recordAudit(op, n)
    (start, start + n)
  }

  /** Stage new table contents (`files`, high-water mark `nextRowId`) and
    * mark every materialization derived from the old contents stale — the
    * one staging step of insert, overwrite, update, delete and the SQL
    * row-level COW:
    *  - projections would serve missing/deleted/old rows;
    *    `refreshProjection` rebuilds and re-enables them;
    *  - rollups: the router falls back to the base files (fast-but-wrong
    *    pre-aggregates are never acceptable); `refreshAggProjection`
    *    rebuilds;
    *  - vector indexes: search falls back to exact brute force
    *    (approximate-but-missing-rows is never acceptable);
    *    `refreshVectorIndex` rebuilds. */
  private def stageContent(m: TableManifest, files: Seq[FileEntry],
                           nextRowId: Long): Unit =
    tx.stageWrite(dir, m.copy(files = files, nextRowId = nextRowId,
      projections = m.projections.map(_.copy(stale = true)),
      aggProjections = m.aggProjections.map(_.copy(stale = true)),
      vectorIndexes = m.vectorIndexes.map(_.copy(stale = true))))

  /** Exact COW touch set: indices (into `files`) of the files whose row-id
    * range contains at least one victim id. One distributed pass over the
    * batch — each victim id stabs the broadcast, lo-sorted interval list by
    * binary search, O(n log F), instead of the O(n·F) of a nested-loop range
    * join. Replaces the old global [lo, hi] envelope, under which a sparse
    * batch at ids {0, 10⁹} intersected every file and rewrote the whole
    * table. Overlapping ranges (COW rewrites of merged files can overlap)
    * are handled by the prefix-max walk-back. */
  private def victimFileIndices(batch: DataFrame, files: Seq[FileEntry]): Set[Int] = {
    if (files.isEmpty) return Set.empty
    val byLo = files.zipWithIndex.sortBy(_._1.minRowId)
    val los = byLo.map(_._1.minRowId).toArray
    val his = byLo.map(_._1.maxRowId).toArray
    val origIdx = byLo.map(_._2).toArray
    // prefixMaxHi(i) = max hi over byLo[0..i]: the stab walks left only while
    // an earlier-starting interval could still cover the id
    val prefixMaxHi = new Array[Long](his.length)
    var run = Long.MinValue
    for (i <- his.indices) { run = math.max(run, his(i)); prefixMaxHi(i) = run }
    // explicit broadcast: at 100 TB the manifest is ~10⁵ entries (~3 MB of
    // bounds); ship it to executors once, not inside every task closure
    val bounds = spark.sparkContext.broadcast((los, his, origIdx, prefixMaxHi))
    val stab = udf { (id: Long) =>
      val (lo, hi, ix, pmax) = bounds.value
      var p = java.util.Arrays.binarySearch(lo, id)
      if (p < 0) p = -p - 2
      else while (p + 1 < lo.length && lo(p + 1) == id) p += 1
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var j = p // all j' <= p have lo(j') <= id
      while (j >= 0 && pmax(j) >= id) {
        if (hi(j) >= id) out += ix(j)
        j -= 1
      }
      out.toSeq
    }
    // bounded collect: ≤ F distinct file indices, never victim rows
    val touched = batch.select(explode(stab(col(RowIdColumn))).as("__fi"))
      .distinct().collect().map(_.getInt(0)).toSet
    bounds.destroy()
    touched
  }

  /** UPDATE cells addressed by `_row_id` (reference vastdb/table.py:779-816).
    * Copy-on-write bounded to the files that actually CONTAIN a victim id
    * (exact per-file membership via `victimFileIndices`); untouched files
    * carry over to the new version. */
  def update(updates: DataFrame): Unit =
    rewriteByRowId(updates, "update", Dml.updateByRowId)

  /** Predicate-addressed UPDATE: SET `assignments` on every row matching
    * `cond` — the select-then-mutate pattern packaged (victims resolved with
    * `_row_id`, then the row-id-addressed COW update). */
  def updateWhere(cond: Column, assignments: Map[String, Column]): Unit = {
    val victims = select(Nil, cond, internalRowId = true)
    update(victims.select(
      col(RowIdColumn) +: assignments.map { case (n, c) => c.as(n) }.toSeq: _*))
  }

  /** Predicate-addressed DELETE (same packaging). */
  def deleteWhere(cond: Column): Unit =
    delete(select(Nil, cond, internalRowId = true).select(col(RowIdColumn)))

  /** DELETE by `_row_id` (reference vastdb/table.py:818-843). COW bounded to
    * the files that actually contain a victim id, like `update`. */
  def delete(victims: DataFrame): Unit =
    rewriteByRowId(victims, "delete", Dml.deleteByRowId)

  /** The row-id-addressed copy-on-write shared by `update` and `delete`:
    * `transform(touchedRows, batch)` yields the replacement rows of the
    * files holding a victim id. One materialization of the batch (cache)
    * feeds the count, the membership probe and the rewrite; it is released
    * however the operation ends. */
  private def rewriteByRowId(rows: DataFrame, op: String,
                             transform: (DataFrame, DataFrame) => DataFrame)
      : Unit = {
    if (!rows.columns.contains(RowIdColumn)) throw MissingRowIdColumn()
    val m = manifest
    val batch = rows.cache()
    try {
      val n = batch.count()
      if (n == 0) return
      val touchedIdx = victimFileIndices(batch, m.files)
      val (touchedZ, untouchedZ) =
        m.files.zipWithIndex.partition { case (_, i) => touchedIdx(i) }
      val rewritten = transform(readEntries(touchedZ.map(_._1), m.schema), batch)
      // COW merges victims across buckets — shuffling the rewrite back into
      // the layout keeps co-bucketed joins shuffle-free through DML
      val (bRewritten, bOf) = bucketized(rewritten, m)
      val entries = writeData(bRewritten, sorted = false, bOf)
      stageContent(m, untouchedZ.map(_._1) ++ entries, m.nextRowId)
      recordAudit(op, n)
    } finally batch.unpersist()
  }

  /** Publish externally-staged parquet files as this table's new contents —
    * the commit half of the SQL row-level COW (GraftRowLevelOperation):
    * Spark's own distributed parquet write staged the replacement rows for
    * the scanned file groups; this computes their manifest entries (a
    * stats job over the staged files — the DSv2 write takes no stats
    * tracker, so this is the one write path that reads its files back),
    * carries the UNSCANNED files over verbatim (`keepPaths`,
    * manifest-relative), and CAS-publishes. `Conflict` if the manifest
    * version moved past `expectVersion` since the operation's scan pinned
    * it — the same lost-update protection as two API committers racing. */
  def adoptReplacement(stagedDir: Path, expectVersion: Long,
                       keepPaths: Set[String], op: String): Unit = {
    val m = manifest
    if (m.version != expectVersion)
      throw Conflict(s"table $name moved v$expectVersion -> v${m.version} " +
        "during a row-level operation; retry")
    val kept = m.files.filter(f => keepPaths(f.path))
    val schemaWithId = StructType(m.schema.fields :+
      StructField(RowIdColumn, LongType, nullable = false))
    val entries = statsEntries(stagedDir, schemaWithId, sorted = false)
    // MERGE can insert rows carrying explicit _row_id above the high-water
    // mark; advance it past their max (same rule as insert()) or a later API
    // insert would re-allocate those ids and duplicate them
    val hi =
      if (entries.isEmpty) m.nextRowId
      else math.max(m.nextRowId, entries.map(_.maxRowId).max + 1)
    stageContent(m, kept ++ entries, hi)
    recordAudit(op, entries.map(_.rows).sum)
  }

  /** Export the (filtered) table to plain parquet (reference README
    * select→ParquetWriter pattern). */
  def exportParquet(path: String, predicate: Column = lit(true)): Unit =
    select(Nil, predicate).write.mode("overwrite").parquet(path)

  /** Export into a BUCKETED Spark catalog table: rows hash-clustered on
    * `keys` into `buckets` files, each sorted on the keys. Repeated joins
    * between tables bucketed the same way then co-locate — Catalyst drops
    * BOTH shuffle exchanges from the sort-merge join, the single biggest
    * cost on a fact-fact join at 100 TB (a shuffle there moves the whole
    * table across the cluster per query; bucketing moves it once, here). */
  def exportBucketed(sparkTable: String, buckets: Int, keys: Seq[String],
                     predicate: Column = lit(true)): Unit =
    select(Nil, predicate).write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(sparkTable)

  // --------------------------------------------------------------- imports

  /** Schema-merge modes (vastdb/util.py:18-83): `default` = containment,
    * `strict` = equality, `union` = unify. */
  def mergeSchemas(schemas: Seq[StructType], mode: String): StructType =
    Table.mergeSchemas(schemas, mode)

  /** Read a manifest version other than the pinned one (time travel across
    * the retained manifest history; snapshots give named aliases). */
  def selectAt(version: Long, columns: Seq[String] = Nil,
               predicate: Column = lit(true)): DataFrame = {
    val m = manifestAt(version)
    val cols = if (columns.isEmpty) m.schema.fieldNames.toSeq else columns
    readEntries(m.files, m.schema).filter(predicate).select(cols.map(col): _*)
  }

  private def manifestAt(version: Long): TableManifest = {
    val p = dir.resolve("_manifest").resolve(f"v$version%08d.json")
    if (!Files.exists(p)) throw MissingTable(s"$name@v$version")
    Manifest.read(p)
  }

  /**
   * Row-level change-data feed between two committed versions: one row per
   * changed row with `_change_type` ∈ insert / update_preimage /
   * update_postimage / delete (the Delta-CDF vocabulary — the natural
   * target for pipelines that already consume it). Rows are matched by
   * `_row_id`, which is STABLE under copy-on-write rewrites, so the diff
   * is exact without comparing payloads:
   *
   *  - files present in both manifests are untouched (immutability) and
   *    never read — the cost is proportional to the DELTA, not the table;
   *  - a row id only in the `to`-side delta files is an insert;
   *  - only in the `from`-side files, a delete (payload = preimage);
   *  - in both, an update — emitted twice, pre- and postimage.
   *
   * This upgrades the manifest-version changefeed (file-granular,
   * `ignoreChanges`-style re-emission) to exact row semantics for batch
   * consumers. Output columns are the `to` schema; columns the `from`
   * version didn't have are null in preimages. Both versions must still be
   * retained — a vacuumed `fromVersion` throws (version retention is the
   * CDC horizon, same contract as the stream source).
   */
  def changes(fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val mTo = if (toVersion < 0L) manifest else manifestAt(toVersion)
    val mFrom = manifestAt(fromVersion)
    require(fromVersion <= mTo.version,
      s"fromVersion $fromVersion is newer than toVersion ${mTo.version}")
    val fromPaths = mFrom.files.map(_.path).toSet
    val toPaths = mTo.files.map(_.path).toSet
    val added = mTo.files.filterNot(f => fromPaths(f.path))
    val removed = mFrom.files.filterNot(f => toPaths(f.path))
    val outSchema = mTo.schema
    val outCols = outSchema.fieldNames.toSeq
    def side(entries: Seq[FileEntry], m: TableManifest, tag: String): DataFrame = {
      val have = m.schema.fieldNames.toSet
      val payload = struct(outCols.map(c =>
        (if (have(c)) col(c)
         else lit(null).cast(outSchema(c).dataType)).as(c)): _*)
      if (entries.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("_rid", LongType, nullable = false),
            StructField(tag, StructType(outCols.map(c =>
              outSchema(c).copy(nullable = true)))))))
      else readEntries(entries, m.schema)
        .select(col(RowIdColumn).as("_rid"), payload.as(tag))
    }
    val pre = side(removed, mFrom, "_pre")
    val post = side(added, mTo, "_post")
    val j = pre.join(post, Seq("_rid"), "full_outer")
    def emit(tag: String, kind: String, cond: Column): DataFrame =
      j.filter(cond).select(
        (lit(kind).as("_change_type") +: col("_rid").as(RowIdColumn) +:
          outCols.map(c => col(s"$tag.$c").as(c))): _*)
    // copy-on-write granularity is the FILE: a rewritten file re-emits its
    // untouched rows on both sides, so an "update" only counts when the
    // payload actually differs (null-safe struct compare) — otherwise a
    // one-row UPDATE would report every row of its file as changed
    val realUpdate = col("_pre").isNotNull && col("_post").isNotNull &&
      !(col("_pre") <=> col("_post"))
    emit("_post", "insert", col("_pre").isNull && col("_post").isNotNull)
      .unionAll(emit("_pre", "delete",
        col("_post").isNull && col("_pre").isNotNull))
      .unionAll(emit("_pre", "update_preimage", realUpdate))
      .unionAll(emit("_post", "update_postimage", realUpdate))
  }

  /** Compact small files (copy-on-write engines accrete them with every
    * DML version): rewrites runs of files smaller than `targetRows` into
    * full-size files, keeping `_row_id`s and big files untouched. A run is
    * a sequence of small files adjacent in `_row_id` order (a big file ends
    * it), and each run is range-partitioned on `_row_id`, so compacted
    * files cover disjoint row-id ranges and never span a big file: a
    * narrow row-id-addressed UPDATE/DELETE then rewrites one file, not
    * every compacted file. Bucketed tables merge all small files into the
    * bucket layout instead. At 100 TB this is the periodic maintenance
    * that keeps scan task counts and footer overhead bounded. */
  def compact(targetRows: Long = 4000000L): Unit = {
    val m = manifest
    val bucketedLayout = m.bucketKeys.nonEmpty && m.bucketCount > 0
    val runs =
      if (bucketedLayout) Seq(m.files.filter(_.rows < targetRows))
      else m.files.sortBy(_.minRowId).foldLeft(Vector(Vector.empty[FileEntry])) {
        case (acc, f) if f.rows >= targetRows => acc :+ Vector.empty
        case (acc, f) => acc.init :+ (acc.last :+ f)
      }
    val merging = runs.filter(_.size > 1)
    if (merging.isEmpty) return
    val base = readEntries(merging.flatten, m.schema)
    val (bMerged, bOf) = bucketized(base, m)
    val merged = if (bOf.isDefined) bMerged else {
      // first row id of every output file: each run starts a new file and
      // is cut at file boundaries into ~equal-row files
      val starts = merging.flatMap { run =>
        val rows = run.map(_.rows).sum
        val n = math.max(1L, rows / targetRows)
        val before = run.scanLeft(0L)(_ + _.rows)
        run.indices.filter(i => i == 0 ||
          before(i) * n / rows > before(i - 1) * n / rows).map(run(_).minRowId)
      }.toArray
      val outFile = udf { (id: Long) =>
        val p = java.util.Arrays.binarySearch(starts, id)
        if (p >= 0) p else math.max(0, -p - 2)
      }
      base.repartitionById(starts.length, outFile(col(RowIdColumn)))
    }
    val entries = writeData(merged, sorted = false, bOf)
    val mergedPaths = merging.flatten.map(_.path).toSet
    tx.stageWrite(dir, m.copy(files = m.files.filterNot(f => mergedPaths(f.path)) ++ entries))
    recordAudit("compact", merging.flatten.map(_.rows).sum)
  }

  /** Bulk-register data files (reference server-side import,
    * vastdb/table.py:338-440; the wire ImportDataRequest carries a per-file
    * `format` field): no row-level client movement — Spark reads the files
    * once, ids are assigned, provenance lands in the imports table.
    * Formats: parquet (default), csv, json, orc. */
  def importFiles(files: Seq[String], mergeMode: String = "default",
                  format: String = "parquet",
                  options: Map[String, String] = Map.empty): Unit = {
    val reader = spark.read.options(options)
    val df = format match {
      case "parquet" => reader.option("mergeSchema", "true").parquet(files: _*)
      case "csv" => reader.option("header", "true").schema(manifest.schema).csv(files: _*)
      case "json" => reader.schema(manifest.schema).json(files: _*)
      case "orc" => reader.option("mergeSchema", "true").orc(files: _*)
      case other => throw NotSupportedCommand(s"import format $other")
    }
    val logical = manifest.schema
    val aligned = df.select(logical.fieldNames.toIndexedSeq.map(n =>
      if (df.columns.contains(n)) col(n) else lit(null).cast(logical(n).dataType).as(n)): _*)
    insert(aligned)
    recordImports(files, format)
  }

  /** Per-file partition-column values appended as literals
    * (reference import_partitioned_files, vastdb/table.py:354-370). */
  def importPartitionedFiles(filesAndPartitions: Map[String, Map[String, Any]]): Unit = {
    val logical = manifest.schema
    val dfs = filesAndPartitions.map { case (f, parts) =>
      val base = spark.read.parquet(f)
      val withParts = parts.foldLeft(base) { case (d, (c, v)) =>
        d.withColumn(c, lit(v).cast(logical(c).dataType))
      }
      withParts.select(logical.fieldNames.toIndexedSeq.map(n =>
        if (withParts.columns.contains(n)) col(n)
        else lit(null).cast(logical(n).dataType).as(n)): _*)
    }
    insert(dfs.reduce(_ unionByName _))
    recordImports(filesAndPartitions.keys.toSeq)
  }

  /** The per-table imports system table (reference name
    * `vastdb-imported-objects`, vastdb/_internal.py:154; queried like any
    * table, vastdb/tests/test_imports.py:88-99). */
  def importsTableName: String = s"${name}__imports"

  def importsTable(): Table = {
    val s = schemaNS
    if (!Files.isDirectory(dir.getParent.resolve(importsTableName).resolve("_manifest")))
      Table.create(s, importsTableName, StructType(Seq(
        StructField("object_name", StringType),
        StructField("num_rows", LongType),
        StructField("imported_at", TimestampType))))
    else s.table(importsTableName)
  }

  private def recordImports(files: Seq[String], format: String = "parquet"): Unit = {
    val it = importsTable()
    // ONE job for all files (group by input_file_name), not a driver-side
    // loop of per-file count() jobs — N jobs for N files kills bulk imports
    val counts: Map[String, Long] =
      try {
        val r = format match {
          case "csv" => spark.read.option("header", "true").csv(files: _*)
          case "json" => spark.read.json(files: _*)
          case "orc" => spark.read.orc(files: _*)
          case _ => spark.read.parquet(files: _*)
        }
        r.groupBy(input_file_name().as("f")).count().collect()
          .map { x =>
            // input_file_name() is a URL-encoded URI (spaces → %20 etc.) —
            // decode through java.net.URI so the map keys are plain paths
            val raw = x.getString(0)
            val plain = try new java.net.URI(raw).getPath catch {
              case _: Exception => raw.stripPrefix("file://").stripPrefix("file:")
            }
            plain -> x.getLong(1)
          }.toMap
      } catch { case _: Exception => Map.empty }
    def countOf(f: String): Long = {
      val abs = Paths.get(f).toAbsolutePath.toString
      counts.get(abs)
        .orElse(counts.find(_._1.endsWith(abs)).map(_._2))
        .getOrElse {
          // missing from the batched result (or the whole batched read
          // failed): isolate with a per-file count so one unreadable file
          // can't poison every file's provenance row
          try {
            (format match {
              case "csv" => spark.read.option("header", "true").csv(f)
              case "json" => spark.read.json(f)
              case "orc" => spark.read.orc(f)
              case _ => spark.read.parquet(f)
            }).count()
          } catch { case _: Exception => -1L } // -1 = unreadable
        }
    }
    val rows = files.map(f => Row(
      f, countOf(f),
      new java.sql.Timestamp(0L))) // deterministic epoch ts; wall-clock in audit
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("object_name", StringType),
      StructField("num_rows", LongType),
      StructField("imported_at", TimestampType))))
    it.insert(df)
  }

  // ------------------------------------------------- schema evolution (D6)

  def addColumn(field: StructField): Unit = {
    val m = manifest
    if (m.schema.fieldNames.contains(field.name))
      throw NotSupportedSchema(s"column exists: ${field.name}")
    tx.stageWrite(dir, m.copy(schemaJson = m.schema.add(field).json))
  }

  def renameColumn(from: String, to: String): Unit = {
    val m = manifest
    val s = m.schema
    if (!s.fieldNames.contains(from)) throw NotSupportedSchema(s"no column $from")
    val ns = StructType(s.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    // lazy rename: per-file physical→logical mapping, no data rewrite. A
    // file whose candidate physical name is already claimed by ANOTHER
    // logical (a drop tombstone from a previous same-named column) has no
    // physical column for `from` at all — it was written before the column
    // was (re-)added — so its map must stay untouched: overwriting the
    // claim would resurrect the dropped bytes under the new name.
    val nf = m.files.map { f =>
      val phys = f.renames.find(_._2 == from).map(_._1).getOrElse(from)
      if (f.renames.get(phys).exists(_ != from)) f
      else f.copy(renames = f.renames - phys + (phys -> to))
    }
    // projections/vector indexes referencing the column: their metadata moves
    // to the new name but their DATA files still carry the old physical name
    // (they have no per-file rename map) — mark stale so the picker/router
    // falls back to the base table until a refresh rewrites them under the
    // new name. Serving them as-is would null-fill the renamed column.
    val np = m.projections.map { p =>
      if (p.columns.contains(from) || p.sortedColumns.contains(from))
        p.copy(columns = p.columns.map(c => if (c == from) to else c),
          sortedColumns = p.sortedColumns.map(c => if (c == from) to else c),
          stale = true)
      else p
    }
    val nv = m.vectorIndexes.map { v =>
      if (v.column == from) v.copy(column = to, stale = true) else v
    }
    // rollups: same protocol as projections — metadata follows the new name,
    // but the rollup files keep the old physical names until a refresh
    val nap = m.aggProjections.map { p =>
      if (p.groupColumns.contains(from) || p.measureColumns.contains(from))
        p.copy(groupColumns = p.groupColumns.map(c => if (c == from) to else c),
          measureColumns = p.measureColumns.map(c => if (c == from) to else c),
          stale = true)
      else p
    }
    // dedup index: signatures are CONTENT-derived and keyed by immutable
    // source-file basename, not by column name — a pure rename invalidates
    // nothing, so the metadata just follows the new name (no staling)
    val nd = m.dedupIndexes.map { d =>
      if (d.column == from) d.copy(column = to) else d
    }
    tx.stageWrite(dir, m.copy(schemaJson = ns.json, files = nf,
      sortingKeys = m.sortingKeys.map(k => if (k == from) to else k),
      clusteringKeys = m.clusteringKeys.map(k => if (k == from) to else k),
      // bucket ids hash VALUES, not names — the layout survives a rename
      bucketKeys = m.bucketKeys.map(k => if (k == from) to else k),
      projections = np, aggProjections = nap,
      vectorIndexes = nv, dedupIndexes = nd))
  }

  def dropColumn(name: String): Unit = {
    val m = manifest
    val ns = StructType(m.schema.fields.filterNot(_.name == name))
    // tombstone the PHYSICAL column in every file's rename map: if a column
    // with the same logical name is later re-added, old files must null-fill
    // it rather than resurrect the dropped bytes (or crash on a type change).
    // readEntries refuses to read a physical column claimed by any rename.
    val tomb = s"__dropped_${name}_${UUID.randomUUID().toString.take(8)}"
    // same already-claimed guard as renameColumn: a file predating this
    // column's (re-)addition has no physical bytes for it — leave its
    // earlier tombstone in place instead of replacing it with this one
    val nf = m.files.map { f =>
      val phys = f.renames.find(_._2 == name).map(_._1).getOrElse(name)
      if (f.renames.get(phys).exists(_ != name)) f
      else f.copy(renames = f.renames - phys + (phys -> tomb))
    }
    tx.stageWrite(dir, m.copy(schemaJson = ns.json, files = nf,
      sortingKeys = m.sortingKeys.filterNot(_ == name),
      clusteringKeys = m.clusteringKeys.filterNot(_ == name),
      // a PARTIAL bucket key set would hash differently than the files on
      // disk were assigned — dropping any bucket key drops the whole layout
      bucketKeys =
        if (m.bucketKeys.contains(name)) Nil else m.bucketKeys,
      bucketCount =
        if (m.bucketKeys.contains(name)) 0 else m.bucketCount,
      // metadata referencing the dropped column must go with it: a vector
      // index on it can never serve again, a blob expansion on it would
      // crash the next insert (its parse source is gone), and a projection
      // listing it would wrongly cover a later re-added column of the same
      // name. Expansion TARGET tables hold user data and stay queryable
      // (explicit dropBlobExpansion removes them).
      vectorIndexes = m.vectorIndexes.filterNot(_.column == name),
      blobExpansions = m.blobExpansions.filterNot(_.blobColumn == name),
      dedupIndexes = m.dedupIndexes.filterNot(_.column == name),
      projections = m.projections.filterNot(p =>
        p.columns.contains(name) || p.sortedColumns.contains(name)),
      // a rollup referencing the dropped column would wrongly cover a later
      // re-added column of the same name — it goes with the column
      aggProjections = m.aggProjections.filterNot(p =>
        p.groupColumns.contains(name) || p.measureColumns.contains(name))))
  }

  /** Staged rename (reference rename isolation,
    * vastdb/tests/test_tables.py:688-757): recorded on the transaction and
    * applied as ONE atomic directory move at commit — concurrent
    * transactions keep seeing the old name; rollback is a no-op. Data paths
    * in the current manifest are re-staged dir-relative so they stay valid
    * after the move (absolute-path entries in historical versions predate
    * the rename and aren't rewritten). */
  def renameTable(newName: String): Table = {
    tx.requireActive()
    val dst = dir.getParent.resolve(newName)
    if (Files.exists(dst)) throw TableExists(newName)
    val m = manifest
    val prefix = dir.toString + "/"
    val relFiles = m.files.map(f =>
      if (f.path.startsWith(prefix)) f.copy(path = f.path.substring(prefix.length)) else f)
    if (relFiles != m.files) tx.stageWrite(dir, m.copy(files = relFiles))
    tx.pendingRenames(dir.toString) = dst.toString
    new Table(schemaNS, newName, dir)
  }

  def drop(): Unit = {
    tx.droppedTables += dir.toString
    recordAudit("drop_table", 0)
  }

  // ------------------------------------------ sorted tables (Elysium, L4)

  /** Declare the table sorted on `keys` (reference add_sorting_key,
    * vastdb/table.py:996-1008). Existing files become "unsorted" until
    * `optimizeSort` rewrites them; `stats.sortingScore` is the sorted-file
    * fraction (reference sorting_score, vastdb/table.py:865-887). */
  def addSortingKey(keys: Seq[String]): Unit = {
    val m = manifest
    if (m.clusteringKeys.nonEmpty)
      throw NotSupportedCommand("table is z-order clustered; drop clustering first")
    if (m.bucketKeys.nonEmpty)
      throw NotSupportedCommand("table is hash-bucketed; drop the bucket layout first")
    tx.stageWrite(dir, m.copy(sortingKeys = keys,
      files = m.files.map(_.copy(sorted = false))))
  }

  /** Declare the table Z-ORDER clustered on `keys` — the multi-key analog
    * of [[addSortingKey]]: instead of tight zone maps on one lead column,
    * every file gets tight min/max ranges on ALL keys at once, so
    * [[Table.pruneByZoneMaps]] skips files for multi-column predicates.
    * Existing files flip to "unsorted" (out of declared layout) until
    * [[optimizeZorder]] — or [[maintain]] — rewrites them. */
  def addClusteringKeys(keys: Seq[String]): Unit = {
    val m = manifest
    if (m.sortingKeys.nonEmpty)
      throw NotSupportedCommand("table has a sorting key; drop it first")
    if (m.bucketKeys.nonEmpty)
      throw NotSupportedCommand("table is hash-bucketed; drop the bucket layout first")
    if (keys.isEmpty || keys.size > graft.ops.Zorder.MaxKeys)
      throw NotSupportedCommand(
        s"z-order clustering takes 1..${graft.ops.Zorder.MaxKeys} keys")
    val schema = m.schema
    keys.foreach { k =>
      val f = schema.fields.find(_.name == k)
        .getOrElse(throw NotSupportedCommand(s"no column $k to cluster on"))
      if (statKind(f.dataType).isEmpty) throw NotSupportedCommand(
        s"z-order key $k: type ${f.dataType.simpleString} has no zone maps")
    }
    tx.stageWrite(dir, m.copy(clusteringKeys = keys,
      files = m.files.map(_.copy(sorted = false))))
  }

  /** Re-sort data at rest: global range partitioning + in-partition sort —
    * the write-path plan whose row-group min/max stats make zone skipping
    * automatic for range predicates on the keys. */
  /** Rewrite file count for a layout rewrite: explicit so AQE cannot
    * coalesce a small rewrite into one file and void per-file zone maps;
    * clamped so a tiny target on a huge table cannot overflow Int. */
  private def layoutFileCount(totalRows: Long, targetFileRows: Long): Int = {
    if (targetFileRows <= 0) throw NotSupportedCommand(
      s"targetFileRows must be positive, got $targetFileRows")
    math.min(Int.MaxValue.toLong,
      math.max(1L, (totalRows + targetFileRows - 1) / targetFileRows)).toInt
  }

  def optimizeSort(targetFileRows: Long = 4000000L): Unit = {
    val m = manifest
    if (m.sortingKeys.isEmpty) throw NotSupportedCommand("no sorting key")
    val sortCols = m.sortingKeys.map(col)
    val nFiles = layoutFileCount(m.totalRows, targetFileRows)
    val data = readEntries(m.files, m.schema)
      .repartitionByRange(nFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val entries = writeData(data, sorted = true)
    tx.stageWrite(dir, m.copy(files = entries))
    recordAudit("optimize_sort", m.totalRows)
  }

  /** Rewrite data at rest in Z-order: quantile-bucket each clustering key
    * (one bounded-sample job, [[graft.ops.Zorder.boundaries]]), interleave
    * the bucket bits into a Morton value, then global range partitioning +
    * in-partition sort on that value — the same plan shape as
    * [[optimizeSort]], just keyed on the curve. Zone maps collected by the
    * write make multi-key file skipping automatic; no scan-side change. */
  def optimizeZorder(targetFileRows: Long = 4000000L): Unit = {
    val m = manifest
    if (m.clusteringKeys.isEmpty) throw NotSupportedCommand("no clustering keys")
    val data = readEntries(m.files, m.schema)
    val zc = graft.ops.Zorder.zColumn(data, m.clusteringKeys, m.totalRows)
    val nFiles = layoutFileCount(m.totalRows, targetFileRows)
    // temp column name must not shadow a real column — withColumn would
    // overwrite it and the drop below would destroy its data
    val zName = Iterator.from(0).map(i => s"__graft_z$i")
      .find(n => !m.schema.fieldNames.contains(n)).get
    val out = data.withColumn(zName, zc)
      .repartitionByRange(nFiles, col(zName))
      .sortWithinPartitions(zName)
      .drop(zName)
    val entries = writeData(out, sorted = true)
    tx.stageWrite(dir, m.copy(files = entries))
    recordAudit("optimize_zorder", m.totalRows)
  }

  /** Declare the table HASH-BUCKETED on `keys` into `buckets` buckets —
    * the layout that makes repeated large joins on the keys free of
    * shuffle: every row lands in bucket `pmod(murmur3(keys), buckets)`
    * (Spark's own `hash()`), each data file holds exactly one bucket, and
    * the SQL scan then reports key-grouped partitioning so a join between
    * two tables bucketed the same way moves ZERO bytes between executors —
    * at 100 TB, the difference between a nightly fact-fact join shuffling
    * the whole table and one that streams co-located files. Existing files
    * carry no bucket id until [[optimizeBuckets]] — or [[maintain]] —
    * rewrites them. */
  def addBucketLayout(buckets: Int, keys: Seq[String]): Unit = {
    val m = manifest
    if (m.sortingKeys.nonEmpty)
      throw NotSupportedCommand("table has a sorting key; drop it first")
    if (m.clusteringKeys.nonEmpty)
      throw NotSupportedCommand("table is z-order clustered; drop clustering first")
    if (buckets < 1 || buckets > 65536)
      throw NotSupportedCommand(s"bucket count must be in 1..65536, got $buckets")
    if (keys.isEmpty) throw NotSupportedCommand("bucket layout takes >= 1 key")
    val schema = m.schema
    keys.foreach { k =>
      if (!schema.fieldNames.contains(k))
        throw NotSupportedCommand(s"no column $k to bucket on")
    }
    tx.stageWrite(dir, m.copy(bucketKeys = keys, bucketCount = buckets,
      files = m.files.map(_.copy(bucket = -1))))
  }

  def dropBucketLayout(): Unit = {
    val m = manifest
    tx.stageWrite(dir, m.copy(bucketKeys = Nil, bucketCount = 0,
      files = m.files.map(_.copy(bucket = -1))))
  }

  /** Rewrite data at rest into the declared bucket layout. One shuffle, no
    * per-bucket jobs: the file count is rounded UP to a multiple of the
    * bucket count, so Spark's own hash partitioning (`pmod(murmur3(keys),
    * nFiles)`) lands every row of output partition `p` in bucket
    * `p mod buckets` — each written file is single-bucket by construction
    * and a large bucket still splits across `nFiles / buckets` files.
    * Rows are key-sorted within each file as a bonus (tight zone maps on
    * the bucket keys for free). The per-file bucket id is re-DERIVED from
    * the rows each write task wrote (min==max asserted), not trusted from
    * the partitioning arithmetic. */
  def optimizeBuckets(targetFileRows: Long = 4000000L): Unit = {
    val m = manifest
    if (m.bucketKeys.isEmpty) throw NotSupportedCommand("no bucket layout")
    val keyCols = m.bucketKeys.map(col)
    val want = layoutFileCount(m.totalRows, targetFileRows).toLong
    // round up to a multiple of bucketCount (see scaladoc); clamp at Int.Max
    val nFiles = math.min(Int.MaxValue.toLong,
      ((want + m.bucketCount - 1) / m.bucketCount) * m.bucketCount).toInt
    val data = readEntries(m.files, m.schema)
      .repartition(nFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val entries = writeData(data, sorted = true,
      bucketOf = Some(pmod(hash(keyCols: _*), lit(m.bucketCount))))
    tx.stageWrite(dir, m.copy(files = entries))
    recordAudit("optimize_buckets", m.totalRows)
  }

  /** One-call maintenance — the client-side analog of the reference server's
    * background work: bring data layout and derived structures back to their
    * declared state after DML churn. Sorted tables with any unsorted file get
    * the full re-sort (which subsumes compaction); otherwise small files
    * compact. Stale projections and vector indexes rebuild. Each step stages
    * into THIS transaction, so the whole maintenance pass publishes under one
    * manifest CAS. */
  def maintain(compactTargetRows: Long = 4000000L): Unit = {
    val m0 = manifest
    if (m0.sortingKeys.nonEmpty) {
      // compact() would write merged UNSORTED files and degrade the declared
      // layout — on sorted tables the full re-sort is the only compaction,
      // and only when something actually violates the sorted state
      if (m0.files.exists(!_.sorted)) optimizeSort()
    } else if (m0.clusteringKeys.nonEmpty) {
      // same rule for z-order: the curve rewrite subsumes compaction
      if (m0.files.exists(!_.sorted)) optimizeZorder()
    } else if (m0.bucketKeys.nonEmpty) {
      // and for bucket layouts: any file outside the layout (DML since the
      // last rewrite) re-buckets everything — which subsumes compaction
      if (m0.files.exists(_.bucket < 0)) optimizeBuckets()
    } else compact(compactTargetRows)
    manifest.projections.filter(_.stale).foreach(p => refreshProjection(p.name))
    manifest.aggProjections.filter(_.stale).foreach(p => refreshAggProjection(p.name))
    manifest.vectorIndexes.filter(_.stale).foreach(v => refreshVectorIndex(v.column))
    // incremental by design: covered files are skipped, so this is a no-op
    // unless DML actually changed the file set
    manifest.dedupIndexes.map(_.column).distinct.foreach(refreshDedupIndex)
  }

  /** Version history of the table: one row per retained manifest —
    * (version, commit_ts, n_files, n_rows, operation hint via props absent;
    * the audit log carries per-op detail). Drives `TIMESTAMP AS OF`
    * debugging and retention decisions; rows are metadata-scale (one per
    * version), never data-scale. */
  /** How far behind the current manifest a changefeed consumer is, given
    * the manifest version it has durably consumed through (`-1` = nothing):
    * (current_version, versions_behind, rows_behind, bytes_behind). The
    * operational question every incremental pipeline asks — "is my stream
    * keeping up?" — answered from manifests alone, no data I/O.
    *
    * Rows/bytes compare FILE SETS (current minus consumed-version files):
    * robust to vacuumed intermediate versions, and COW-rewritten files
    * count as new — matching what the changefeed will actually re-emit. A
    * vacuumed consumed-version manifest counts every current file as
    * pending (conservative; the stream itself will demand a fresh
    * checkpoint at that point). */
  def streamLag(consumed: Long): (Long, Long, Long, Long) = {
    val m = manifest
    val cur = m.version
    if (consumed >= cur) return (cur, 0L, 0L, 0L)
    val basePath = dir.resolve("_manifest").resolve(f"v$consumed%08d.json")
    val baseFiles: Set[String] =
      if (consumed < 0 || !Files.exists(basePath)) Set.empty
      else Manifest.read(basePath).files.map(_.path).toSet
    val fresh = m.files.filterNot(f => baseFiles(f.path))
    (cur, cur - math.max(consumed, -1L),
      fresh.map(_.rows).sum, fresh.map(_.bytes).sum)
  }

  def history(): DataFrame = {
    val mdir = dir.resolve("_manifest")
    val rows = Table.listDir(mdir)
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(Manifest.read)
      .sortBy(_.version)
      .map(m => Row(m.version, new java.sql.Timestamp(m.commitMicros / 1000L),
        m.files.size, m.totalRows))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("commit_ts", TimestampType),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false))))
  }

  /**
   * Retention vacuum for the version chain: keep the newest `keepLast`
   * manifest versions, drop older manifests, and delete data files no
   * retained manifest — of this table OR of any bucket snapshot of it —
   * references. This is what bounds storage under COW churn at 100 TB:
   * every UPDATE/DELETE/compaction orphans whole files into history, and
   * without retention the table keeps every byte ever written.
   *
   * Non-transactional and immediate (like the reference's storage-side
   * lifecycle): deletions are NOT undone by a rollback of this transaction,
   * and time travel to a dropped version fails from now on. Single
   * maintainer assumed. Two safety rails: the current version is always
   * retained, and unreferenced files younger than `minAgeMillis` are kept —
   * a concurrent in-flight insert's staged files are not yet in any
   * manifest, and the age guard keeps them out of reach.
   *
   * Returns (dataFilesDeleted, manifestsDeleted, projectionFilesDeleted) —
   * base data files and projection/rollup build files are distinct storage
   * populations (audited as `vacuum_versions` / `vacuum_projections`), so
   * their counts are never conflated.
   */
  def vacuumVersions(keepLast: Int = 7,
                     minAgeMillis: Long = 3600000L): (Int, Int, Int) = {
    require(keepLast >= 1, "keepLast must be at least 1")
    val mdir = dir.resolve("_manifest")
    val cur = Table.currentVersion(dir)
    val cutoff = math.max(0L, cur - keepLast + 1) // retain [cutoff, cur]
    def manifestsIn(tdir: Path): Seq[TableManifest] = {
      val md = tdir.resolve("_manifest")
      if (!Files.isDirectory(md)) Nil
      else Table.listDir(md)
        .filter(_.getFileName.toString.matches("v\\d+\\.json"))
        .map(Manifest.read)
    }
    // every data path a retained version still references, fully resolved
    val retained = (cutoff to cur)
      .map(v => mdir.resolve(f"v$v%08d.json"))
      .filter(Files.exists(_))
      .map(Manifest.read)
    // bucket snapshots share this table's immutable data files through
    // path redirection — anything a snapshot manifest references is live
    val root = Paths.get(tx.session.root)
    val rel = root.relativize(dir)
    val snapRoot = root.resolve(rel.getName(0).toString).resolve(".snapshot")
    val rest = rel.subpath(1, rel.getNameCount)
    val snapManifests =
      if (!Files.isDirectory(snapRoot)) Nil
      else Table.listDir(snapRoot).flatMap { snap =>
        val st = snap.resolve(rest)
        manifestsIn(st).flatMap(_.files.map(f =>
          Paths.get(Table.resolvePath(st, f.path)).normalize))
      }
    val referenced: Set[Path] =
      (retained.flatMap(_.files.map(f =>
        Paths.get(Table.resolvePath(dir, f.path)).normalize)) ++
        snapManifests).toSet
    val now = System.currentTimeMillis()
    val dataDir = dir.resolve("data")
    val victims =
      if (!Files.isDirectory(dataDir)) Nil
      else Table.walkPaths(dataDir)
        .filter(Files.isRegularFile(_))
        .filterNot(p => referenced(p.normalize))
        .filter(p =>
          now - Files.getLastModifiedTime(p).toMillis >= minAgeMillis)
    // dir ages are captured BEFORE deleting victims: unlinking a file bumps
    // its parent dir's mtime, which would otherwise make every dir THIS
    // vacuum empties look freshly-written and defer its cleanup a full
    // minAge — the pre-delete mtime is the one that says whether a writer
    // is actually active in there
    val dirAges: Map[Path, Long] =
      if (!Files.isDirectory(dataDir)) Map.empty
      else Table.walkPaths(dataDir).filter(Files.isDirectory(_))
        .map(p => p -> Files.getLastModifiedTime(p).toMillis).toMap
    victims.foreach(Files.deleteIfExists(_))
    // empty COW-staging dirs left behind after their files went — emptiness
    // checked AT DELETE TIME (deepest first), so a chain of nested empty
    // dirs collapses in one pass instead of one level per vacuum. The age
    // guard applies to DIRS too: a concurrent write's just-created batch dir
    // (data/b-<uuid>/, and the SQL row-level COW's Spark staging dirs) is
    // momentarily empty, and deleting one mid-write fails the write —
    // young dirs are left for the next vacuum.
    if (Files.isDirectory(dataDir))
      Table.walkPaths(dataDir).reverse
        .filter(p => Files.isDirectory(p) && p != dataDir)
        .filter(p => now - dirAges.getOrElse(p, now) >= minAgeMillis)
        .foreach { p =>
          // a writer can drop a file in between the emptiness check and the
          // delete — losing the race is fine (the dir is in use), crashing
          // the vacuum mid-way is not
          if (Table.listDir(p).isEmpty)
            try Files.deleteIfExists(p)
            catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
    // superseded projection/rollup BUILDS: every refresh writes a new
    // `_proj/<name>-<uuid>` dir and orphans the previous one (concurrent
    // readers on older manifests keep a valid dir — so reaping is
    // age-gated here, never eager). With per-streaming-batch rollup
    // maintenance this is one orphan per micro-batch: vacuum must collect
    // them or projection storage grows without bound. Live = referenced by
    // any retained manifest or any bucket snapshot's manifest.
    val projRoot = dir.resolve("_proj")
    val snapProj =
      if (!Files.isDirectory(snapRoot)) Nil
      else Table.listDir(snapRoot).flatMap { snap =>
        val st = snap.resolve(rest)
        manifestsIn(st).flatMap(m =>
          (m.projections.map(_.dir) ++ m.aggProjections.map(_.dir))
            .map(d => Paths.get(Table.resolvePath(st, d)).normalize))
      }
    val referencedProj: Set[Path] =
      (retained.flatMap(m =>
        (m.projections.map(_.dir) ++ m.aggProjections.map(_.dir))
          .map(d => Paths.get(Table.resolvePath(dir, d)).normalize)) ++
        snapProj).toSet
    val projVictims =
      if (!Files.isDirectory(projRoot)) Nil
      else Table.listDir(projRoot)
        .filter(Files.isDirectory(_))
        .filterNot(p => referencedProj(p.normalize))
        .filter(p =>
          now - Files.getLastModifiedTime(p).toMillis >= minAgeMillis)
    val projFilesDeleted = projVictims.map(p =>
      Table.walkPaths(p).count(Files.isRegularFile(_))).sum
    projVictims.foreach(Table.deleteRecursively)
    val droppedManifests = (0L until cutoff)
      .map(v => mdir.resolve(f"v$v%08d.json"))
      .filter(Files.exists(_))
    droppedManifests.foreach(Files.deleteIfExists(_))
    recordAudit("vacuum_versions", victims.size.toLong)
    if (projFilesDeleted > 0)
      recordAudit("vacuum_projections", projFilesDeleted.toLong)
    (victims.size, droppedManifests.size, projFilesDeleted)
  }

  // ------------------------------------------- projections (D10, §4.3)

  /** Write one immutable projection data dir (unique name per build, so
    * concurrent readers on older manifests keep a valid dir) and register
    * its files for rollback cleanup. Returns the dir, relative to the table
    * dir. */
  private def writeProjectionData(pname: String, columns: Seq[String],
                                  sortedColumns: Seq[String]): String = {
    val m = manifest
    val pdirRel = s"_proj/$pname-${UUID.randomUUID().toString.take(8)}"
    val pdir = dir.resolve(pdirRel)
    val data = readEntries(m.files, m.schema)
      .select((columns :+ RowIdColumn).distinct.map(col): _*)
      .repartitionByRange(sortedColumns.map(col): _*)
      .sortWithinPartitions(sortedColumns.map(col): _*)
    data.write.mode("overwrite").parquet(pdir.toString)
    // deepest-first so rollback's in-order deletes empty dirs before parents
    Table.walkPaths(pdir).reverse
      .foreach(p => tx.newFiles += p.toString)
    pdirRel
  }

  /** Materialized column-subset copy sorted on `sortedColumns` (reference
    * semi-sorted projections, vastdb/table.py:274-309). The picker in
    * `select` routes covered scans here automatically. */
  def createProjection(pname: String, columns: Seq[String],
                       sortedColumns: Seq[String]): Unit = {
    val m = manifest
    val pdirRel = writeProjectionData(pname, columns, sortedColumns)
    tx.stageWrite(dir, m.copy(projections =
      m.projections.filterNot(_.name == pname) :+
        ProjectionMeta(pname, columns, sortedColumns, pdirRel)))
  }

  /** Rebuild a (stale) projection from the current table state and re-enable
    * it — the maintenance half of the stale-on-DML protocol. */
  def refreshProjection(pname: String): Unit = {
    val m = manifest
    val p = m.projections.find(_.name == pname)
      .getOrElse(throw NotSupportedCommand(s"no projection $pname"))
    val pdirRel = writeProjectionData(pname, p.columns, p.sortedColumns)
    tx.stageWrite(dir, m.copy(projections = m.projections.map(x =>
      if (x.name == pname) x.copy(dir = pdirRel, stale = false) else x)))
    recordAudit("refresh_projection", m.totalRows)
  }

  def projections: Seq[ProjectionMeta] = manifest.projections

  /** Alter (rename) a projection — metadata-only, the data dir is untouched
    * (reference projection alter, vastdb/table.py:1090-1138). */
  def renameProjection(pname: String, newName: String): Unit = {
    val m = manifest
    if (m.projections.exists(_.name == newName))
      throw NotSupportedCommand(s"projection exists: $newName")
    if (!m.projections.exists(_.name == pname))
      throw NotSupportedCommand(s"no projection $pname")
    tx.stageWrite(dir, m.copy(projections = m.projections.map(x =>
      if (x.name == pname) x.copy(name = newName) else x)))
  }

  def dropProjection(pname: String): Unit = {
    val m = manifest
    tx.stageWrite(dir, m.copy(projections = m.projections.filterNot(_.name == pname)))
  }

  // --------------------------- aggregate projections (rollups)

  /** The decomposable partial set: `__rows`, and per measure
    * `__cnt_/__min_/__max_` (+ `__sum_` when numeric). */
  private def aggPartialCols(schema: StructType,
                             measureColumns: Seq[String]): Seq[Column] =
    count(lit(1)).as("__rows") +:
      measureColumns.flatMap { c =>
        val numeric = schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
        val common = Seq(count(col(c)).as(s"__cnt_$c"),
          min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
        if (numeric) sum(col(c)).as(s"__sum_$c") +: common else common
      }

  private def writeAggDir(pname: String, data: DataFrame,
                          groupColumns: Seq[String]): (String, String) = {
    val pdirRel = s"_proj/agg-$pname-${UUID.randomUUID().toString.take(8)}"
    val pdir = dir.resolve(pdirRel)
    val out = data.sortWithinPartitions(groupColumns.map(col): _*)
    out.write.mode("overwrite").parquet(pdir.toString)
    // deepest-first so rollback's in-order deletes empty dirs before parents
    Table.walkPaths(pdir).reverse
      .foreach(p => tx.newFiles += p.toString)
    (pdirRel, out.schema.json)
  }

  /** One immutable rollup data dir: one row per distinct `groupColumns`
    * combination with decomposable partials. ONE distributed aggregation
    * pass over `entries`; partial-column types are whatever Spark's own
    * aggregates produce, recorded in the returned schema JSON so the
    * router rewrites against the exact file types. */
  private def writeAggProjectionData(pname: String, groupColumns: Seq[String],
                                     measureColumns: Seq[String],
                                     entries: Seq[FileEntry])
      : (String, String) = {
    val schema = manifest.schema
    val partials = aggPartialCols(schema, measureColumns)
    writeAggDir(pname, readEntries(entries, schema)
      .groupBy(groupColumns.map(col): _*)
      .agg(partials.head, partials.tail: _*), groupColumns)
  }

  /** Incremental refresh: aggregate ONLY `delta` (files added since the
    * last build), union with the existing rollup rows, and re-merge the
    * partials — sums/counts add, extrema re-extremize; merged sum columns
    * cast back to the recorded types (Spark widens a decimal sum-of-sums).
    * Correct because partial merges are associative and the covered files
    * are immutable. */
  private def mergeAggProjectionData(p: AggProjectionMeta,
                                     delta: Seq[FileEntry])
      : (String, String) = {
    val rollupSchema = org.apache.spark.sql.types.DataType
      .fromJson(p.schemaJson).asInstanceOf[StructType]
    val old = spark.read.schema(rollupSchema)
      .parquet(Table.resolvePath(dir, p.dir))
    val partials = aggPartialCols(manifest.schema, p.measureColumns)
    val fresh = readEntries(delta, manifest.schema)
      .groupBy(p.groupColumns.map(col): _*)
      .agg(partials.head, partials.tail: _*)
    val dims = p.groupColumns.toSet
    val merge: Seq[Column] = rollupSchema.fields.toSeq
      .filterNot(f => dims(f.name)).map { f =>
        if (f.name.startsWith("__min_")) min(col(f.name)).as(f.name)
        else if (f.name.startsWith("__max_")) max(col(f.name)).as(f.name)
        else sum(col(f.name)).cast(f.dataType).as(f.name) // __rows/__cnt/__sum
      }
    val merged = old.unionByName(fresh)
      .groupBy(p.groupColumns.map(col): _*)
      .agg(merge.head, merge.tail: _*)
    val (pdirRel, _) = writeAggDir(p.name, merged, p.groupColumns)
    (pdirRel, p.schemaJson) // schema unchanged by construction
  }

  /** Materialized rollup (aggregate projection): `AggProjectionRewrite`
    * transparently answers covered SQL aggregates from it — sum/count/min/
    * max/avg over `measureColumns`, grouped by any SUBSET of
    * `groupColumns`, with filters that reference only group columns.
    * The scale analog of the reference's server-side projection selection
    * (/root/reference/vastdb/table.py:274-309) applied to the aggregate
    * shape: the 100 TB fact pass happens ONCE at build, every matching
    * query after reads a few thousand pre-aggregated rows. */
  def createAggProjection(pname: String, groupColumns: Seq[String],
                          measureColumns: Seq[String]): Unit = {
    val m = manifest
    if (groupColumns.isEmpty)
      throw NotSupportedCommand("rollup needs at least one group column")
    val names = m.schema.fieldNames.toSet
    val missing = (groupColumns ++ measureColumns).filterNot(names)
    if (missing.nonEmpty)
      throw NotSupportedSchema(s"no such columns: ${missing.mkString(", ")}")
    if (groupColumns.intersect(measureColumns).nonEmpty)
      throw NotSupportedCommand("group and measure columns must be disjoint")
    val (pdirRel, schemaJson) =
      writeAggProjectionData(pname, groupColumns, measureColumns, m.files)
    tx.stageWrite(dir, m.copy(aggProjections =
      m.aggProjections.filterNot(_.name == pname) :+
        AggProjectionMeta(pname, groupColumns, measureColumns, pdirRel,
          schemaJson, coveredFiles = m.files.map(_.path))))
    recordAudit("create_agg_projection", m.totalRows)
  }

  /** Rebuild a (stale) rollup and re-enable it — the maintenance half of
    * the stale-on-DML protocol. INSERT-only churn refreshes incrementally:
    * only the files added since the last build are aggregated, their
    * partials merged with the existing rollup (audited as
    * `refresh_agg_projection_incr`). Anything else — a covered file gone
    * (COW/delete/overwrite), or recorded partials that no longer line up
    * with the (possibly renamed) columns — rebuilds from scratch. */
  def refreshAggProjection(pname: String): Unit = {
    val m = manifest
    val p = m.aggProjections.find(_.name == pname)
      .getOrElse(throw NotSupportedCommand(s"no aggregate projection $pname"))
    val current = m.files.map(_.path)
    val covered = p.coveredFiles.toSet
    val recordedNames = (try org.apache.spark.sql.types.DataType
        .fromJson(p.schemaJson).asInstanceOf[StructType].fieldNames
      catch { case _: Exception => Array.empty[String] }).toSet
    val schemaOk = p.groupColumns.forall(recordedNames) &&
      p.measureColumns.forall(c => recordedNames(s"__cnt_$c"))
    val delta = m.files.filterNot(f => covered(f.path))
    val incremental = schemaOk && p.coveredFiles.nonEmpty &&
      covered.subsetOf(current.toSet) &&
      Files.isDirectory(Paths.get(Table.resolvePath(dir, p.dir)))
    val (pdirRel, schemaJson) =
      if (incremental && delta.isEmpty) (p.dir, p.schemaJson) // files identical
      else if (incremental) mergeAggProjectionData(p, delta)
      else writeAggProjectionData(pname, p.groupColumns, p.measureColumns,
        m.files)
    tx.stageWrite(dir, m.copy(aggProjections = m.aggProjections.map(x =>
      if (x.name == pname)
        x.copy(dir = pdirRel, schemaJson = schemaJson, stale = false,
          coveredFiles = current)
      else x)))
    recordAudit(
      if (incremental) "refresh_agg_projection_incr"
      else "refresh_agg_projection",
      if (incremental) delta.map(_.rows).sum else m.totalRows)
  }

  def aggProjections: Seq[AggProjectionMeta] = manifest.aggProjections

  def dropAggProjection(pname: String): Unit = {
    val m = manifest
    tx.stageWrite(dir, m.copy(aggProjections =
      m.aggProjections.filterNot(_.name == pname)))
  }

  /** Table properties (reference table props alter,
    * vastdb/_internal.py:1427-1481): merged into the manifest under the
    * same transactional CAS as any other DDL. */
  def setProperties(props: Map[String, String]): Unit = {
    val m = manifest
    tx.stageWrite(dir, m.copy(props = m.props ++ props))
  }

  def unsetProperties(keys: Seq[String]): Unit = {
    val m = manifest
    tx.stageWrite(dir, m.copy(props = m.props -- keys))
  }

  def properties: Map[String, String] = manifest.props

  /** Paginated column listing (reference list_columns pagination,
    * vastdb/_internal.py:1623-1686): (name, Spark DDL type) pairs,
    * name-ordered (stable page boundaries), paged by startAfter. */
  def listColumns(startAfter: String = "",
                  maxKeys: Int = 1000): (Seq[(String, String)], Option[String]) = {
    val all = manifest.schema.fields
      .map(f => (f.name, f.dataType.sql)).sortBy(_._1).filter(_._1 > startAfter)
    val page = all.take(maxKeys).toSeq
    (page, if (all.length > maxKeys) Some(page.last._1) else None)
  }

  // ------------------------------------------------- vector search (§2.8)

  /** Vector index DDL (metrics l2sq | ip, reference VectorIndexSpec,
    * vastdb/_internal.py:809-826; the reference maintains real per-column
    * vector indexes server-side, _internal.py:1392-1411). Here the index IS
    * an IVF structure built at create time: deterministic k-means centroids
    * (`Similarity.ivfIndex`, Lloyd-refined, no driver collect) and the
    * assignment persisted hive-partitioned by `centroid_id`, so a search
    * reads only its probed cells — at 100 TB this is the difference between
    * scanning nprobe/C of the fat embedding column and scanning all of it.
    * On an empty table only metadata is stored (searches brute-force until
    * `refreshVectorIndex` after data lands). */
  def createVectorIndex(column: String, metric: String,
                        nCentroids: Int = 0, refineIters: Int = 2): Unit = {
    if (!Set("l2sq", "ip")(metric))
      throw NotSupportedCommand(s"invalid metric $metric (expected l2sq|ip)")
    val m = manifest
    val built = buildIvf(m, column, nCentroids, refineIters)
    // the replaced index dir (re-create on the same column) is live in the
    // committed manifest until this tx commits — defer its deletion
    m.vectorIndexes.filter(x => x.column == column && x.dir.nonEmpty)
      .foreach(old => tx.deleteOnCommit += dir.resolve(old.dir).toString)
    tx.stageWrite(dir, m.copy(vectorIndexes =
      m.vectorIndexes.filterNot(_.column == column) :+
        VectorIndexMeta(column, metric, dir = built.map(_._1).getOrElse(""),
          nCentroids = built.map(_._2).getOrElse(0), builtRows = m.totalRows,
          dataColumn = column)))
  }

  /** Refresh a (stale) vector index and re-enable it — the maintenance half
    * of the stale-on-DML protocol, mirroring `refreshProjection`.
    *
    * INCREMENTAL by default: data files are immutable, so coverage is
    * file-granular (`__src=` partitions, same model as the dedup index) —
    * orphaned partitions (COW-rewritten files) are dropped and only the
    * UNCOVERED files' rows are assigned to the EXISTING centroids: one
    * distributed pass over the delta, never the corpus. A full k-means
    * rebuild happens only when the table's row count drifted ~4× past the
    * count the centroids were built for (cell balance is gone by then). */
  def refreshVectorIndex(column: String): Unit = {
    val m = manifest
    val meta = m.vectorIndexes.find(_.column == column)
      .getOrElse(throw NotSupportedCommand(s"no vector index on $column"))
    val total = m.totalRows
    val incremental = meta.dir.nonEmpty && meta.builtRows > 0 &&
      meta.dataColumn == column && // a renamed column invalidates the layout
      total <= meta.builtRows * 4 && total >= meta.builtRows / 4
    if (!incremental) {
      val built = buildIvf(m, column, meta.nCentroids, refineIters = 2)
      if (meta.dir.nonEmpty)
        tx.deleteOnCommit += dir.resolve(meta.dir).toString
      tx.stageWrite(dir, m.copy(vectorIndexes = m.vectorIndexes.map(x =>
        if (x.column == column)
          x.copy(dir = built.map(_._1).getOrElse(""),
            nCentroids = built.map(_._2).getOrElse(0), stale = false,
            builtRows = total, dataColumn = column)
        else x)))
    } else {
      val idxDir = dir.resolve(meta.dir)
      val assignedDir = idxDir.resolve("assigned")
      val covered = coveredSrcs(assignedDir)
      val current = m.files.map(f => srcName(f.path)).toSet
      (covered -- current).foreach(s =>
        tx.deleteOnCommit += assignedDir.resolve(s"__src=$s").toString)
      val missing = m.files.filterNot(f => covered(srcName(f.path)))
      if (missing.nonEmpty) {
        val centroids = spark.read
          .parquet(idxDir.resolve("centroids").toString)
          .select(col("centroid_id"), col("c_vec"))
        val fresh = graft.llm.Similarity.ivfAssign(
          readEntries(missing, m.schema)
            .select(col(RowIdColumn), col(column),
              element_at(split(input_file_name(), "/"), -1).as("__src")),
          RowIdColumn, column, centroids)
        fresh.write.mode("append").partitionBy("__src", "centroid_id")
          .parquet(assignedDir.toString)
        missing.foreach { f =>
          val pdir = assignedDir.resolve("__src=" + srcName(f.path))
          if (Files.isDirectory(pdir))
            Table.walkPaths(pdir).reverse.foreach(p => tx.newFiles += p.toString)
        }
      }
      tx.stageWrite(dir, m.copy(vectorIndexes = m.vectorIndexes.map(x =>
        if (x.column == column) x.copy(stale = false) else x)))
    }
    recordAudit("refresh_vector_index", total)
  }

  /** Build + persist the IVF structure for `column`; returns (relative dir,
    * nCentroids) or None for an empty table. */
  private def buildIvf(m: TableManifest, column: String,
                       nCentroids: Int, refineIters: Int): Option[(String, Int)] = {
    val total = m.totalRows
    if (total == 0) return None
    // C ≈ √n keeps cell size ≈ √n: the classic IVF balance between probe
    // fan-out and per-cell scan cost
    val c = if (nCentroids > 0) nCentroids
      else math.max(4, math.min(4096, math.round(math.sqrt(total.toDouble)).toInt))
    val vecs = readEntries(m.files, m.schema)
      .select(col(RowIdColumn), col(column),
        element_at(split(input_file_name(), "/"), -1).as("__src"))
    val (centroids, assigned) =
      graft.llm.Similarity.ivfIndex(vecs, RowIdColumn, column, c, refineIters)
    val rel = s"_vecidx/$column-${UUID.randomUUID().toString.take(8)}"
    val idxDir = dir.resolve(rel)
    centroids.coalesce(1).write.parquet(idxDir.resolve("centroids").toString)
    assigned.write.partitionBy("__src", "centroid_id")
      .parquet(idxDir.resolve("assigned").toString)
    Table.walkPaths(idxDir).reverse.foreach(p => tx.newFiles += p.toString)
    Some((rel, c))
  }

  /** The column's declared search metric (its vector index's; `l2sq`
    * without an index) as a distance-to-`queryVec` function: smaller is
    * nearer, so `ip` is negated. */
  private def distanceTo(m: TableManifest, column: String,
                         queryVec: Seq[Float]): Column => Column = {
    val metric = m.vectorIndexes.find(_.column == column)
      .map(_.metric).getOrElse("l2sq")
    val q = lit(queryVec.toArray).cast("array<float>")
    v => metric match {
      case "ip" => -Distances.ip(v, q)
      case _ => Distances.l2sq(v, q)
    }
  }

  /** Exact brute-force top-k over the base table: every qualifying row
    * (all columns + `_row_id`) with its `_distance`, distance-then-rowid
    * ordered. */
  private def bruteForceTopK(m: TableManifest, column: String,
                             queryVec: Seq[Float], k: Int,
                             predicate: Column): DataFrame =
    select(Nil, predicate, internalRowId = true)
      .withColumn("_distance", distanceTo(m, column, queryVec)(col(column)))
      .orderBy(col("_distance").asc, col(RowIdColumn).asc)
      .limit(k)

  /** Top-k ids only — `(_row_id, _distance)` without hydrating payload
    * columns: IVF-routed when the index is fresh, exact brute force
    * otherwise. The shape for callers (e.g. the SQL `vector_search`
    * procedure) that join payload back themselves, or don't need it:
    * skips the winner-file fetch entirely. */
  def vectorSearchIds(column: String, queryVec: Seq[Float], k: Int,
                      predicate: Column = lit(true), nprobe: Int = 4): DataFrame =
    ivfTopK(column, queryVec, k, predicate, nprobe).getOrElse(
      bruteForceTopK(manifest, column, queryVec, k, predicate)
        .select(col(RowIdColumn), col("_distance")))

  /** Top-k vector search with optional pushdown predicate (reference
    * vector_search → `ORDER BY array_distance LIMIT k`, vastdb/_adbc.py:133-159).
    *
    * With a fresh IVF index on the column, the search is index-routed:
    * `nprobe` nearest cells are resolved against the (≤4096-row) centroid
    * table, the assignment is scanned with STATIC partition pruning (only
    * those cells' files are read), an optional predicate semi-join keeps only
    * qualifying rows (the base scan for it reads just the predicate columns +
    * `_row_id`), distances rank the survivors as TakeOrderedAndProject, and
    * the k winners broadcast-join back to the base table for full rows.
    * Without an index (or with a stale one) the scan is the exact brute
    * force over the base table. Both paths return the same shape:
    * (`_row_id`, all columns, `_distance`), distance-then-rowid ordered. */
  def vectorSearch(column: String, queryVec: Seq[Float], k: Int,
                   predicate: Column = lit(true), nprobe: Int = 4): DataFrame = {
    val m = manifest
    ivfTopK(column, queryVec, k, predicate, nprobe) match {
      case Some(top) =>
        // Materialize the k winners NOW (a bounded collect: exactly the k
        // rows the caller asked for) so the full-row fetch can prune base
        // files by their manifest [minRowId, maxRowId] ranges. The fetch
        // then reads only the files that actually contain a winner — at
        // 100 TB that's the difference between touching ~k files and
        // re-scanning the whole table just to hydrate k rows.
        val winners = top.collect()
        val ids: Array[Long] = winners.map(_.getLong(0)).sorted
        def containsWinner(lo: Long, hi: Long): Boolean = {
          val i = java.util.Arrays.binarySearch(ids, lo)
          val ins = if (i >= 0) i else -i - 1
          ins < ids.length && ids(ins) <= hi
        }
        val fetchFiles = m.files.filter(f => containsWinner(f.minRowId, f.maxRowId))
        val winDf = spark.createDataFrame(
          java.util.Arrays.asList(winners: _*), top.schema)
        readEntries(fetchFiles, m.schema)
          .join(broadcast(winDf), Seq(RowIdColumn))
          .orderBy(col("_distance").asc, col(RowIdColumn).asc)
      case None => bruteForceTopK(m, column, queryVec, k, predicate)
    }
  }

  /** Lazy IVF-routed top-k (`_row_id`, `_distance`) — package-private so
    * plan tests can assert the static cell pruning of the assignment scan.
    * None without a fresh index (callers fall back to exact brute force). */
  private[graft] def ivfTopK(column: String, queryVec: Seq[Float], k: Int,
                             predicate: Column,
                             nprobe: Int): Option[DataFrame] = {
    val m = manifest
    val meta = m.vectorIndexes.find(_.column == column)
    val distOf = distanceTo(m, column, queryVec)
    meta.filter(x => x.dir.nonEmpty && !x.stale).map { x =>
      val idxRoot = resolveDataPath(x.dir)
      // bounded collect: ≤ nCentroids (≤4096) index-metadata rows — the
      // literal cell list is what makes the partition pruning STATIC
      // probe cells by the DECLARED metric: for ip, an l2-near centroid is
      // not the high-inner-product one, and a metric mismatch here makes
      // whole high-norm cells unreachable (worse than IVF approximation)
      val cells: Seq[Long] = spark.read
        .parquet(Paths.get(idxRoot, "centroids").toString)
        .withColumn("_cd", distOf(col("c_vec")))
        .orderBy(col("_cd").asc, col("centroid_id").asc)
        .limit(nprobe)
        .collect().map(_.getAs[Long]("centroid_id")).toSeq
      // explicit schema pins the hive-partition columns (LongType cell id,
      // StringType source file) so the literal isin stays a STATIC partition
      // filter (inference would type centroid_id IntegerType and the
      // implicit cast could defeat pruning)
      val assignedSchema = StructType(Seq(
        StructField(RowIdColumn, LongType, nullable = false),
        StructField(column, m.schema(column).dataType),
        StructField("__src", StringType),
        StructField("centroid_id", LongType)))
      val assignedDir = Paths.get(idxRoot, "assigned")
      var probed = spark.read.schema(assignedSchema)
        .parquet(assignedDir.toString)
        .filter(col("centroid_id").isin(cells: _*))
      // inside a refreshing transaction, COW-orphaned __src partitions are
      // still on disk (deleted only at commit) — exclude them; the common
      // post-commit case has no orphans and adds no filter
      val covered = coveredSrcs(assignedDir)
      val current = m.files.map(f => srcName(f.path)).toSet
      if ((covered -- current).nonEmpty)
        probed = probed.filter(col("__src").isin(current.toSeq: _*))
      probed = probed.select(col(RowIdColumn), col(column))
      val cand =
        if (Glue.isLiteralTrue(predicate)) probed
        else {
          val roots = Glue.referencedRoots(predicate)
            .filter(m.schema.fieldNames.contains).toSeq
          val qualifying = select(roots, predicate, internalRowId = true)
            .select(col(RowIdColumn))
          probed.join(qualifying, Seq(RowIdColumn), "leftsemi")
        }
      cand
        .withColumn("_distance", distOf(col(column)))
        .orderBy(col("_distance").asc, col(RowIdColumn).asc)
        .limit(k)
        .select(col(RowIdColumn), col("_distance"))
    }
  }

  // ------------------------------------------- dedup-signature index

  private def srcName(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** Declare + build a persisted dedup-signature index on a text column
    * (minhash + simhash per row; see `Manifest.DedupIndexMeta` for the
    * file-granular incremental model). */
  def createDedupIndex(column: String, k: Int = 64, bands: Int = 16,
                       shingleN: Int = 3): Unit = {
    require(k % bands == 0, "bands must divide k")
    installDedupIndex(column, DedupIndexMeta(column, k, bands, shingleN,
      dir = s"_dedupidx/$column-${UUID.randomUUID().toString.take(8)}"))
  }

  /** Vector variant: persisted multi-table hyperplane-LSH signatures over a
    * `dim`-dimensional embedding column, sharing the text index's
    * file-granular refresh machinery (see `Manifest.DedupIndexMeta`). */
  def createEmbeddingDedupIndex(column: String, dim: Int, planes: Int = 12,
                                tables: Int = 4): Unit = {
    require(dim > 0 && planes > 0 && planes <= 62 && tables > 0,
      "need dim > 0, 0 < planes <= 62, tables > 0")
    installDedupIndex(column, DedupIndexMeta(column, kind = "vector",
      dim = dim, planes = planes, tables = tables,
      dir = s"_dedupidx/$column-${UUID.randomUUID().toString.take(8)}"))
  }

  /** Declare + build a persisted SPAN-HASH index on a text column: one
    * (row, window position, h1, h2) row per `spanTokens`-token window
    * (rolling-hash pairs, `graft.functions.WindowHashPairs`), hive-
    * partitioned by source-file basename under the same file-granular
    * incremental model as the signature indexes — refresh hashes only
    * uncovered files. This is the exact-substring (Lee et al. ExactSubstr)
    * twin of the minhash index: where signatures answer "is this document
    * NEAR a corpus document", window hashes answer "does this document
    * CONTAIN a span the corpus already has" ([[probeDupSpans]] — the
    * ingest-time pre-screen). Size note (the honest trade, same class as
    * the paper's suffix array): ~24 bytes per window, so stride 1 stores
    * index rows proportional to corpus tokens; raise `stride` to sample
    * (alignment-sensitive — see LIMITS.md). Meta reuses `DedupIndexMeta`
    * with kind="span" (k = spanTokens, bands = stride). */
  def createSpanIndex(column: String, spanTokens: Int = 50,
                      stride: Int = 1): Unit = {
    require(spanTokens > 0 && stride > 0,
      "spanTokens and stride must be positive")
    installDedupIndex(column, DedupIndexMeta(column, kind = "span",
      k = spanTokens, bands = stride,
      dir = s"_spanidx/$column-${UUID.randomUUID().toString.take(8)}"),
      replaceKinds = Set("span"))
  }

  /** Declare + build a persisted full-text (inverted) index on a text
    * column: postings `($row_id, term, tf)` plus per-document token counts,
    * hive-partitioned by source-file basename under the SAME file-granular
    * incremental model as dedup indexes (immutable data files ⇒ coverage is
    * implicitly correct under DML; refresh computes only the delta). A
    * term-filtered search reads only matching postings row groups — the
    * corpus text is never re-tokenized for covered files. Coexists with a
    * dedup index on the same column (distinct kind family). */
  def createTextIndex(column: String): Unit =
    installDedupIndex(column, DedupIndexMeta(column, kind = "fts",
      dir = s"_ftsidx/$column-${UUID.randomUUID().toString.take(8)}"),
      replaceKinds = Set("fts"))

  /** Declare + build a persisted product-quantization index: a trained
    * codebook (m×k sub-centroids, parquet) plus per-row PQ codes
    * hive-partitioned by source-file basename under the same file-granular
    * incremental model — refresh ENCODES only uncovered files against the
    * FROZEN codebook (one scan of the delta; no retrain). Codebook drift
    * under heavy distribution shift is the documented trade: re-create the
    * index to retrain. Meta reuses `DedupIndexMeta` with kind="pq"
    * (dim = vector dims, bands = m subspaces, k = codes per subspace). */
  def createPqIndex(column: String, dim: Int, m: Int = 16, k: Int = 16,
                    trainIters: Int = 1): Unit = {
    require(dim > 0 && m > 0 && dim % m == 0 && k > 1 && k <= 256,
      s"need dim divisible by m and 1 < k <= 256, got dim=$dim m=$m k=$k")
    installDedupIndex(column, DedupIndexMeta(column, kind = "pq",
      dim = dim, bands = m, k = k, planes = trainIters,
      dir = s"_pqidx/$column-${UUID.randomUUID().toString.take(8)}"),
      replaceKinds = Set("pq"))
  }

  /** Alias for PQ-index refresh (delta encode against the frozen codebook). */
  def refreshPqIndex(column: String): Unit = refreshDedupIndex(column)

  private def installDedupIndex(column: String, meta: DedupIndexMeta,
      replaceKinds: Set[String] = Set("text", "vector")): Unit = {
    val m = manifest
    if (!m.schema.fieldNames.contains(column))
      throw NotSupportedCommand(s"no column $column to index")
    // a replaced index's dir is deleted only once this transaction commits:
    // until then the COMMITTED manifest still points at it (and a rollback
    // must leave it serving queries); deferring also stops re-creates from
    // leaking a full signature copy of the table per call
    def replaced(d: DedupIndexMeta) =
      d.column == column && replaceKinds(d.kind)
    m.dedupIndexes.filter(replaced)
      .foreach(old => tx.deleteOnCommit += dir.resolve(old.dir).toString)
    tx.stageWrite(dir, m.copy(dedupIndexes =
      m.dedupIndexes.filterNot(replaced) :+ meta))
    buildMissingSignatures(meta, manifest.files)
  }

  /** Incremental refresh: drop signature partitions whose source file a COW
    * rewrite replaced, compute signatures ONLY for files not yet covered —
    * one distributed job over the delta, nothing recomputed for untouched
    * files. Single-maintainer assumption (like the reference's background
    * jobs): concurrent refreshes of the same index may duplicate partition
    * contents. */
  def refreshDedupIndex(column: String): Unit = {
    val m = manifest
    val metas = m.dedupIndexes.filter(_.column == column)
    if (metas.isEmpty)
      throw NotSupportedCommand(s"no dedup index on $column")
    metas.foreach { meta =>
      val current = m.files.map(f => srcName(f.path)).toSet
      val covered = coveredSrcs(coverageDir(meta))
      // `current` may come from a STAGED manifest (refresh inside a larger
      // transaction): partitions it orphans are deleted only at commit, so a
      // rollback keeps coverage for files still live in the committed
      // manifest
      (covered -- current).foreach(s =>
        partitionDirs(meta).foreach(d =>
          tx.deleteOnCommit += d.resolve(s"__src=$s").toString))
      buildMissingSignatures(meta,
        m.files.filterNot(f => covered(srcName(f.path))))
      recordAudit(
        if (meta.kind == "fts") "refresh_text_index" else "refresh_dedup_index",
        m.totalRows)
    }
  }

  /** Alias for text-index refresh (same file-granular delta machinery). */
  def refreshTextIndex(column: String): Unit = refreshDedupIndex(column)

  /** The dir whose `__src=` partitions define index coverage. */
  private def coverageDir(meta: DedupIndexMeta): Path = meta.kind match {
    case "fts" => dir.resolve(meta.dir).resolve("postings")
    case "pq" => dir.resolve(meta.dir).resolve("codes")
    case _ => dir.resolve(meta.dir)
  }

  /** Every partitioned dir an index writes (fts keeps postings + doclens;
    * pq's codebook is a one-time unpartitioned artifact, not listed). */
  private def partitionDirs(meta: DedupIndexMeta): Seq[Path] = meta.kind match {
    case "fts" => Seq(dir.resolve(meta.dir).resolve("postings"),
      dir.resolve(meta.dir).resolve("doclens"))
    case "pq" => Seq(dir.resolve(meta.dir).resolve("codes"))
    case _ => Seq(dir.resolve(meta.dir))
  }

  /** Near-duplicate pairs from the persisted index: covered files read
    * their signatures (never recomputed), files inserted since the last
    * refresh compute theirs on the fly — results are always current. */
  def dedupMinhashPairs(column: String, threshold: Double = 0.7): DataFrame = {
    val (meta, sigs) = indexSignatures(column)
    require(meta.kind == "text",
      s"dedup index on $column is kind '${meta.kind}', not text")
    graft.llm.Dedup.minhashPairsFromSigs(
      sigs.select(col(RowIdColumn).as("id"), col("sig")),
      meta.k, meta.bands, threshold)
  }

  /** Simhash variant over the same persisted index. */
  def dedupSimhashPairs(column: String, maxHamming: Int = 3): DataFrame = {
    val (meta, sigs) = indexSignatures(column)
    require(meta.kind == "text",
      s"dedup index on $column is kind '${meta.kind}', not text")
    graft.llm.Dedup.simhashPairsFromSigs(
      sigs.select(col(RowIdColumn).as("id"), col("sim")), maxHamming)
  }

  /** Which rows of `incoming` near-duplicate an ALREADY-INGESTED row of
    * this table, via the persisted text dedup index on `column` — the
    * ingest-time probe (the streaming sink's `suppressNearDups` option
    * rides on this): incoming rows hash to signatures with the INDEX'S
    * parameters, band-join against the corpus signatures (covered files
    * from the index, uncovered on the fly — same freshness contract as
    * [[dedupMinhashPairs]]), and only the bounded candidate set rejoins
    * the wide signatures. A VECTOR index probes the embedding twin
    * (hyperplane-LSH candidates + exact-cosine verify). Returns
    * (incoming id, corpus `$row_id`, similarity) per match — similarity
    * is estimated jaccard for text indexes, cosine for vector ones;
    * never corpus×corpus work. */
  def probeNearDups(column: String, incoming: DataFrame,
                    incomingIdCol: String,
                    threshold: Double = 0.7): DataFrame = {
    val (meta, sigs) = indexSignatures(column)
    if (meta.kind == "vector") {
      // embedding twin: incoming vectors hash against the index's
      // hyperplane families; exact-cosine verification over the bounded
      // candidate set (match metric = cosine, not jaccard)
      val q = incoming.select(col(incomingIdCol).as("id"),
        graft.llm.Dedup.lshSignatures(col(column),
          meta.dim, meta.planes, meta.tables).as("vsig"),
        col(column).as("v"))
      val corpusVecs = select(Seq(column), lit(true), internalRowId = true)
        .select(col(RowIdColumn).as("id"), col(column).as("v"))
      graft.llm.Dedup.embeddingProbeFromSigs(
          q.select("id", "vsig"), q.select("id", "v"),
          sigs.select(col(RowIdColumn).as("id"), col("vsig")), corpusVecs,
          threshold)
        .withColumnRenamed("c_id", "corpus_row_id")
        .withColumnRenamed("cos", "similarity")
    } else {
      require(meta.kind == "text",
        s"dedup index on $column is kind '${meta.kind}' — probeNearDups " +
          "needs a text or vector dedup index (a PQ index stores codes, " +
          "not near-dup signatures)")
      val q = incoming.select(col(incomingIdCol).as("id"),
        graft.functions.TextHashes.minhashFromTokens(
          split(col(column), " "), meta.k, meta.shingleN).as("sig"))
      graft.llm.Dedup.minhashProbeFromSigs(q,
          sigs.select(col(RowIdColumn).as("id"), col("sig")),
          meta.k, meta.bands, threshold)
        .withColumnRenamed("c_id", "corpus_row_id")
        .withColumnRenamed("est_jaccard", "similarity")
    }
  }

  /** Embedding near-dup pairs from a persisted VECTOR index: covered files
    * read their LSH signatures, files inserted since the last refresh hash
    * on the fly; exact-cosine verification re-joins the vectors by row id
    * (bounded candidate set — the signatures bound the join, the vectors
    * never enter the candidate shuffle). */
  def dedupEmbeddingPairs(column: String, threshold: Double): DataFrame = {
    val (meta, sigs) = indexSignatures(column)
    require(meta.kind == "vector",
      s"dedup index on $column is kind '${meta.kind}', not vector")
    val vecs = select(Seq(column), lit(true), internalRowId = true)
      .select(col(RowIdColumn).as("id"), col(column).as("v"))
    graft.llm.Dedup.embeddingLshPairsFromSigs(
      sigs.select(col(RowIdColumn).as("id"), col("vsig")), vecs, threshold)
  }

  private def coveredSrcs(idxDir: Path): Set[String] =
    if (!Files.isDirectory(idxDir)) Set.empty
    else Table.listDir(idxDir).map(_.getFileName.toString)
      .filter(_.startsWith("__src="))
      .map(_.stripPrefix("__src=")).toSet

  /** The per-row signature columns a dedup index persists, by index kind. */
  private def signatureCols(meta: DedupIndexMeta)
      : Seq[org.apache.spark.sql.Column] =
    if (meta.kind == "vector")
      Seq(graft.llm.Dedup.lshSignatures(col(meta.column),
        meta.dim, meta.planes, meta.tables).as("vsig"))
    else {
      val toks = split(col(meta.column), " ")
      Seq(graft.functions.TextHashes
          .minhashFromTokens(toks, meta.k, meta.shingleN).as("sig"),
        graft.functions.TextHashes.simhash64(toks).as("sim"))
    }

  /** ONE distributed job computes signatures for every uncovered file and
    * hive-partitions them back out by source-file basename (unique: data
    * file names are uuid-suffixed). */
  private def buildMissingSignatures(meta: DedupIndexMeta,
                                     missing: Seq[FileEntry]): Unit = {
    if (missing.isEmpty) return
    if (meta.kind == "fts") return buildMissingPostings(meta, missing)
    if (meta.kind == "pq") return buildMissingPqCodes(meta, missing)
    val idxDir = dir.resolve(meta.dir)
    val perRow =
      if (meta.kind == "span") {
        // one row per WINDOW, not per source row: (row id, window start,
        // rolling-hash pair) — spanWindows is shared with the probe-side
        // on-the-fly path so persisted and fresh hashes agree. A sentinel
        // (wp = -1) row per file keeps the file COVERED even when every
        // row is shorter than spanTokens (zero windows): without it such
        // a file would re-hash on every probe and re-run the build job on
        // every refresh, forever. Readers filter wp >= 0.
        val wins = spanWindows(readEntries(missing, manifest.schema)
          .select(col(RowIdColumn), col(meta.column),
            element_at(split(input_file_name(), "/"), -1).as("__src")),
          RowIdColumn, meta, extraCols = Seq("__src"))
        val sentinels = spark.createDataFrame(
          missing.map(f => Row(-1L, -1, 0L, 0L, srcName(f.path))).asJava,
          StructType(Seq(
            StructField(RowIdColumn, LongType, nullable = false),
            StructField("wp", IntegerType, nullable = false),
            StructField("h1", LongType, nullable = false),
            StructField("h2", LongType, nullable = false),
            StructField("__src", StringType))))
        wins.unionByName(sentinels)
      } else readEntries(missing, manifest.schema)
        .select(col(RowIdColumn) +: signatureCols(meta) :+
          element_at(split(input_file_name(), "/"), -1).as("__src"): _*)
    perRow
      .write.mode("append").partitionBy("__src").parquet(idxDir.toString)
    // rollback cleanup for exactly the partitions this tx created
    missing.foreach { f =>
      val pdir = idxDir.resolve("__src=" + srcName(f.path))
      if (Files.isDirectory(pdir))
        Table.walkPaths(pdir).reverse.foreach(p => tx.newFiles += p.toString)
    }
  }

  /** Full-text build for the delta: one tokenize pass feeds both outputs —
    * per-doc token counts (doclens) and the (row, term, tf) postings. Two
    * scans of the DELTA (not cached: at corpus scale caching the raw text
    * costs more memory than a second columnar read costs time). */
  private def buildMissingPostings(meta: DedupIndexMeta,
                                   missing: Seq[FileEntry]): Unit = {
    val Seq(postDir, dlDir) = partitionDirs(meta)
    def base = readEntries(missing, manifest.schema)
      .select(col(RowIdColumn),
        split(col(meta.column), " ").as("__toks"),
        element_at(split(input_file_name(), "/"), -1).as("__src"))
    base.select(col(RowIdColumn), size(col("__toks")).as("dl"), col("__src"))
      .write.mode("append").partitionBy("__src").parquet(dlDir.toString)
    base.select(col(RowIdColumn), explode(col("__toks")).as("w"), col("__src"))
      .groupBy(col("__src"), col(RowIdColumn), col("w"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("append").partitionBy("__src").parquet(postDir.toString)
    // rollback cleanup for exactly the partitions this tx created
    missing.foreach { f =>
      Seq(postDir, dlDir).foreach { d =>
        val pdir = d.resolve("__src=" + srcName(f.path))
        if (Files.isDirectory(pdir))
          Table.walkPaths(pdir).reverse.foreach(p => tx.newFiles += p.toString)
      }
    }
  }

  /** PQ build for the delta: train the codebook ONCE (first build — i.e.
    * at createPqIndex over the then-current rows), then every build
    * including refresh encodes only the given files against the frozen
    * codebook. Encoding keys by row id; the (row id → source file) map
    * joins back on so codes land hive-partitioned by file. */
  private def buildMissingPqCodes(meta: DedupIndexMeta,
                                  missing: Seq[FileEntry]): Unit = {
    val base = dir.resolve(meta.dir)
    val cbDir = base.resolve("codebook")
    val Seq(codesDir) = partitionDirs(meta)
    val mSub = meta.bands
    if (!Files.isDirectory(cbDir)) {
      val train = readEntries(missing, manifest.schema)
        .select(col(RowIdColumn), col(meta.column))
      graft.llm.Quantization.pqTrain(train, RowIdColumn, meta.column,
          meta.dim, mSub, meta.k, iters = meta.planes)
        .write.mode("overwrite").parquet(cbDir.toString)
      Table.walkPaths(cbDir).reverse.foreach(p => tx.newFiles += p.toString)
    }
    val cb = spark.read.parquet(cbDir.toString)
    val rows = readEntries(missing, manifest.schema)
      .select(col(RowIdColumn), col(meta.column),
        element_at(split(input_file_name(), "/"), -1).as("__src"))
    graft.llm.Quantization.pqEncode(rows, RowIdColumn, meta.column, cb,
        meta.dim, mSub)
      .join(rows.select(col(RowIdColumn), col("__src")), Seq(RowIdColumn))
      .write.mode("append").partitionBy("__src").parquet(codesDir.toString)
    missing.foreach { f =>
      val pdir = codesDir.resolve("__src=" + srcName(f.path))
      if (Files.isDirectory(pdir))
        Table.walkPaths(pdir).reverse.foreach(p => tx.newFiles += p.toString)
    }
  }

  /** Compressed ANN over the persisted PQ index: the ADC scan reads the
    * 16-byte code rows for covered files (never the vectors), uncovered
    * files encode on the fly against the frozen codebook, and only the
    * bounded shortlist reranks against real vectors. Returns
    * ($row_id, knn_rank), rank 1..k nearest-first. */
  def vectorSearchPq(column: String, queryVec: Seq[Float], k: Int,
                     shortlist: Int = 64): DataFrame = {
    val m = manifest
    val meta = m.dedupIndexes.find(x => x.column == column && x.kind == "pq")
      .getOrElse(throw NotSupportedCommand(s"no pq index on $column"))
    val base = dir.resolve(meta.dir)
    val cb = spark.read.parquet(base.resolve("codebook").toString)
    val Seq(codesDir) = partitionDirs(meta)
    val codesSchema = StructType(Seq(
      StructField(RowIdColumn, LongType, nullable = false),
      StructField("pq_codes", ArrayType(IntegerType))))
    val current = m.files.map(f => srcName(f.path)).toSet
    val covered = coveredSrcs(codesDir).intersect(current)
    val persisted =
      if (covered.isEmpty) None
      else Some(spark.read
        .schema(codesSchema.add(StructField("__src", StringType)))
        .parquet(codesDir.toString)
        .filter(col("__src").isin(covered.toSeq: _*))
        .drop("__src"))
    val uncovered = m.files.filterNot(f => covered(srcName(f.path)))
    val fresh =
      if (uncovered.isEmpty) None
      else Some(graft.llm.Quantization.pqEncode(
        readEntries(uncovered, m.schema)
          .select(col(RowIdColumn), col(column)),
        RowIdColumn, column, cb, meta.dim, meta.bands))
    val enc = (persisted.toSeq ++ fresh.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], codesSchema))
    val corpus = select(Seq(column), internalRowId = true)
      .select(col(RowIdColumn), col(column))
    val queries = spark.createDataFrame(
      java.util.List.of(Row(-1L, queryVec)),
      StructType(Seq(StructField(RowIdColumn, LongType, nullable = false),
        StructField(column, ArrayType(FloatType)))))
    graft.llm.Quantization.pqSearch(enc, corpus, queries, cb,
        RowIdColumn, column, meta.dim, meta.bands, k, shortlist)
      .select(col("n_id").as(RowIdColumn), col("knn_rank"))
  }

  /** BM25 ranked retrieval over the persisted inverted index: covered
    * files read their postings (the term IN-filter pushes into the parquet
    * scan, so only matching row groups decode), files inserted since the
    * last refresh tokenize on the fly — results are always current. The
    * scorer is byte-shared with `TextAnalysis.bm25Search`, so index-backed
    * and raw-text scores agree exactly. Returns ($row_id, bm25), top-k. */
  def textSearch(column: String, terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val m = manifest
    val meta = m.dedupIndexes.find(x => x.column == column && x.kind == "fts")
      .getOrElse(throw NotSupportedCommand(s"no text index on $column"))
    val Seq(postDir, dlDir) = partitionDirs(meta)
    val postSchema = StructType(Seq(
      StructField(RowIdColumn, LongType, nullable = false),
      StructField("w", StringType),
      StructField("tf", LongType)))
    val dlSchema = StructType(Seq(
      StructField(RowIdColumn, LongType, nullable = false),
      StructField("dl", IntegerType)))
    val current = m.files.map(f => srcName(f.path)).toSet
    val covered = coveredSrcs(postDir).intersect(current)
    def persisted(d: Path, sch: StructType): Option[DataFrame] =
      if (covered.isEmpty) None
      else Some(spark.read
        .schema(sch.add(StructField("__src", StringType)))
        .parquet(d.toString)
        .filter(col("__src").isin(covered.toSeq: _*))
        .drop("__src"))
    val uncovered = m.files.filterNot(f => covered(srcName(f.path)))
    def freshBase = readEntries(uncovered, m.schema)
      .select(col(RowIdColumn), split(col(column), " ").as("__toks"))
    val freshTf =
      if (uncovered.isEmpty) None
      else Some(freshBase
        .select(col(RowIdColumn), explode(col("__toks")).as("w"))
        .groupBy(col(RowIdColumn), col("w")).agg(count(lit(1)).as("tf")))
    val freshDl =
      if (uncovered.isEmpty) None
      else Some(freshBase
        .select(col(RowIdColumn), size(col("__toks")).as("dl")))
    def union(parts: Seq[DataFrame], sch: StructType): DataFrame =
      parts.reduceOption(_.unionByName(_)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch))
    val tfDf = union(persisted(postDir, postSchema).toSeq ++ freshTf, postSchema)
    val dlDf = union(persisted(dlDir, dlSchema).toSeq ++ freshDl, dlSchema)
    graft.llm.TextAnalysis.bm25FromPostings(
        tfDf.withColumnRenamed(RowIdColumn, "id"),
        dlDf.withColumnRenamed(RowIdColumn, "id"), terms, k, k1, b)
      .withColumnRenamed("id", RowIdColumn)
  }

  /** Index-backed signature table for the CURRENT manifest: persisted
    * partitions (static `__src` partition pruning) unioned with on-the-fly
    * signatures for not-yet-refreshed files. */
  /** The per-window rows a span index stores: (idCol, wp, h1, h2) plus
    * `extraCols` carried through — ONE implementation for the persisted
    * build, the refresh delta, and every on-the-fly path, so hashes agree
    * by construction. */
  private def spanWindows(rows: DataFrame, idCol: String,
                          meta: DedupIndexMeta,
                          extraCols: Seq[String] = Nil): DataFrame =
    rows.select((Seq(col(idCol)) ++ extraCols.map(col) :+
        posexplode(graft.functions.TextHashes.windowHashPairs(
          split(col(meta.column), " "), meta.k, meta.bands))
          .as(Seq("_widx", "_hp"))): _*)
      .select((Seq(col(idCol), (col("_widx") * meta.bands).as("wp"),
        col("_hp.h1").as("h1"), col("_hp.h2").as("h2")) ++
        extraCols.map(col)): _*)

  /** The corpus window-hash table of the span index on `column`: covered
    * files read their persisted rows (never re-hashed), files inserted
    * since the last refresh hash on the fly — the same freshness contract
    * as [[dedupMinhashPairs]]. Returns ($row_id, wp, h1, h2). */
  private def spanIndexWindows(column: String): (DedupIndexMeta, DataFrame) = {
    val m = manifest
    val meta = m.dedupIndexes.find(x => x.column == column && x.kind == "span")
      .getOrElse(throw NotSupportedCommand(s"no span index on $column"))
    val idxDir = dir.resolve(meta.dir)
    val winSchema = StructType(Seq(
      StructField(RowIdColumn, LongType, nullable = false),
      StructField("wp", IntegerType, nullable = false),
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false)))
    val current = m.files.map(f => srcName(f.path)).toSet
    val covered = coveredSrcs(idxDir).intersect(current)
    val persisted =
      if (covered.isEmpty) None
      else Some(spark.read
        .schema(winSchema.add(StructField("__src", StringType)))
        .parquet(idxDir.toString)
        .filter(col("__src").isin(covered.toSeq: _*))
        // wp = -1 rows are coverage sentinels for zero-window files
        .filter(col("wp") >= 0)
        .drop("__src"))
    val uncovered = m.files.filterNot(f => covered(srcName(f.path)))
    val fresh =
      if (uncovered.isEmpty) None
      else Some(spanWindows(readEntries(uncovered, m.schema)
        .select(col(RowIdColumn), col(meta.column)), RowIdColumn, meta))
    val wins = (persisted.toSeq ++ fresh.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], winSchema))
    (meta, wins)
  }

  /** Which spans of `incoming` the corpus ALREADY CONTAINS, via the span
    * index on `column` — the exact-substring ingest pre-screen (the
    * ExactSubstr twin of [[probeNearDups]]): each incoming row reports how
    * many of its tokens sit under a window whose (h1, h2) rolling-hash
    * pair exists in the corpus index. Returns (incoming id, n_tokens,
    * dup_tokens, dup_frac) for EVERY incoming row (0 for clean ones).
    *
    * Scale shape: the incoming batch's windows derive map-side and
    * BROADCAST against the corpus window table (batch ≪ corpus always
    * holds at ingest; covered files stream their 24-byte persisted rows,
    * uncovered hash on the fly) — the corpus side never shuffles, and the
    * matched set is bounded by the batch's window count. */
  /** Offline exact-substring dedup from the persisted span index: the
    * keep-first removal ([[graft.llm.Dedup.dedupSpansKeepFirst]]
    * semantics, `$row_id` as the identity/order key) with the window-hash
    * pass — the dominant map-side cost — READ from the index for covered
    * files instead of recomputed (uncovered files hash on the fly; same
    * freshness contract as [[dedupMinhashPairs]]). Returns the table's
    * rows (with `$row_id`) and the `column` text rewritten; feed it to
    * `update`/`overwrite` to persist the cut. */
  def dedupSpans(column: String): DataFrame = {
    val (meta, wins) = spanIndexWindows(column)
    val rows = select(Nil, lit(true), internalRowId = true)
    // dedupSpansFromWins consumes `wins` twice (winner aggregate + cut
    // join): the same offload pin dedupSpansKeepFirst applies
    graft.llm.Dedup.dedupSpansFromWins(rows, RowIdColumn, column,
      graft.llm.Pin.offload(
        wins.select(col(RowIdColumn), col("wp").as("_wp"),
          col("h1").as("_wh"), col("h2").as("_wh2"))), meta.k)
  }

  def probeDupSpans(column: String, incoming: DataFrame,
                    incomingIdCol: String): DataFrame = {
    val (meta, corpus) = spanIndexWindows(column)
    // the probe kernel is graft.llm.Dedup.spanProbeStats (one
    // implementation for the index path and ad-hoc window tables);
    // meta.k/meta.bands are the index's spanTokens/stride, so incoming
    // windows hash exactly like the persisted ones
    graft.llm.Dedup.spanProbeStats(incoming, incomingIdCol, column,
      corpus, meta.k, meta.bands)
  }

  private def indexSignatures(column: String): (DedupIndexMeta, DataFrame) = {
    val m = manifest
    // fts and span indexes share the meta list but not the signature
    // layout (span stores per-WINDOW rows — spanIndexWindows reads those),
    // so a coexisting one must never shadow the text/vector signatures
    val meta = m.dedupIndexes.find(x => x.column == column &&
        x.kind != "fts" && x.kind != "span")
      .getOrElse(throw NotSupportedCommand(s"no dedup index on $column"))
    val idxDir = dir.resolve(meta.dir)
    val sigSchema =
      if (meta.kind == "vector") StructType(Seq(
        StructField(RowIdColumn, LongType, nullable = false),
        StructField("vsig", ArrayType(LongType))))
      else StructType(Seq(
        StructField(RowIdColumn, LongType, nullable = false),
        StructField("sig", ArrayType(LongType)),
        StructField("sim", LongType)))
    val current = m.files.map(f => srcName(f.path)).toSet
    val covered = coveredSrcs(idxDir).intersect(current)
    val persisted =
      if (covered.isEmpty) None
      else Some(spark.read
        .schema(sigSchema.add(StructField("__src", StringType)))
        .parquet(idxDir.toString)
        .filter(col("__src").isin(covered.toSeq: _*))
        .drop("__src"))
    val uncovered = m.files.filterNot(f => covered(srcName(f.path)))
    val fresh =
      if (uncovered.isEmpty) None
      else Some(readEntries(uncovered, m.schema)
        .select(col(RowIdColumn) +: signatureCols(meta): _*))
    val sigs = (persisted.toSeq ++ fresh.toSeq).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], sigSchema))
    (meta, sigs)
  }

  // ------------------------------------------------ blob expansion (D11)

  /** Auto-maintained expansion of a JSON blob column into a side table
    * (reference blob expansion, vastdb/table.py:311-336): each insert into
    * the base table also lands parsed fields + `missing_values` /
    * `excessive_values` indicators in the target. */
  def createBlobExpansion(blobColumn: String, fieldsDdl: String): Unit = {
    val m = manifest
    val target = s"${name}__expanded_$blobColumn"
    val fields = StructType.fromDDL(fieldsDdl)
    Table.create(schemaNS, target, StructType(
      StructField("_source_row_id", LongType) +:
        fields.fields :+
        StructField("missing_values", BooleanType) :+
        StructField("excessive_values", BooleanType)))
    tx.stageWrite(dir, m.copy(blobExpansions =
      m.blobExpansions :+ BlobExpansionMeta(blobColumn, fieldsDdl, target)))
  }

  def blobExpansions: Seq[BlobExpansionMeta] = manifest.blobExpansions

  /** Alter an expansion's declared fields (reference alter±columns,
    * vastdb/table.py:1152-1215): future inserts parse the new field set;
    * the target table gains any new columns (null-backfilled). */
  def alterBlobExpansion(blobColumn: String, newFieldsDdl: String): Unit = {
    val m = manifest
    val be = m.blobExpansions.find(_.blobColumn == blobColumn)
      .getOrElse(throw NotSupportedCommand(s"no blob expansion on $blobColumn"))
    val target = schemaNS.table(be.targetTable)
    val newFields = StructType.fromDDL(newFieldsDdl)
    newFields.fields.filterNot(f => target.schema.fieldNames.contains(f.name))
      .foreach(target.addColumn)
    tx.stageWrite(dir, m.copy(blobExpansions =
      m.blobExpansions.map(x => if (x.blobColumn == blobColumn)
        x.copy(fieldsDdl = newFieldsDdl) else x)))
  }

  def dropBlobExpansion(blobColumn: String): Unit = {
    val m = manifest
    m.blobExpansions.find(_.blobColumn == blobColumn).foreach { be =>
      schemaNS.table(be.targetTable).drop()
    }
    tx.stageWrite(dir, m.copy(blobExpansions =
      m.blobExpansions.filterNot(_.blobColumn == blobColumn)))
  }

  /** Projection row/size stats (reference projection stats RPC,
    * vastdb/_internal.py:2404-2484). */
  def projectionStats(pname: String): TableStats = {
    val p = manifest.projections.find(_.name == pname)
      .getOrElse(throw NotSupportedCommand(s"no projection $pname"))
    val pdir = Paths.get(resolveDataPath(p.dir))
    val files = if (Files.isDirectory(pdir))
      Table.walkPaths(pdir).filter(_.toString.endsWith(".parquet"))
    else Nil
    val size = files.map(f => try Files.size(f) catch { case _: Exception => 0L }).sum
    val rows = spark.read.parquet(pdir.toString).count()
    TableStats(rows, size, 1.0, sortingDone = true, files.size)
  }

  private def maintainBlobExpansions(m: TableManifest, inserted: DataFrame): Unit =
    m.blobExpansions.foreach { be =>
      val fields = StructType.fromDDL(be.fieldsDdl)
      val parsed = inserted.select(
        col(RowIdColumn).as("_source_row_id"),
        from_json(col(be.blobColumn), fields).as("_p"),
        col(be.blobColumn).as("_raw"))
      val expanded = parsed.select(
        (col("_source_row_id") +:
          fields.fieldNames.toIndexedSeq.map(f => col(s"_p.$f").as(f)) :+
          (col("_raw").isNotNull && fields.fieldNames.toIndexedSeq
            .map(f => col(s"_p.$f").isNull).reduce(_ || _)).as("missing_values") :+
          // fields present in the blob but absent from the declared schema
          (json_object_keys(col("_raw")).isNotNull &&
            size(array_except(json_object_keys(col("_raw")),
              array(fields.fieldNames.toIndexedSeq.map(lit): _*))) > 0)
            .as("excessive_values")): _*)
      schemaNS.table(be.targetTable).insert(expanded)
    }

  private def recordAudit(op: String, n: Long): Unit =
    tx.session.audit(op, tx = Some(tx.id), table = Some(dir.toString),
      rows = Some(n))
}

object Table {

  /** The covering-projection rule, shared by `Table.select` and the SQL
    * scan builder (`ZoneMapScanBuilder`): among `fresh` projections, those
    * whose columns contain everything `needed` except `_row_id` (projection
    * files always carry it) can serve the scan; prefer one whose LEADING
    * sort column appears in `filterRoots` — its row-group locality is what
    * the filters can exploit (the server's semi-sorted projection
    * selection, vastdb/tests/test_projections.py:102-125). */
  def coveringProjection(fresh: Seq[ProjectionMeta], needed: Set[String],
                         filterRoots: Set[String]): Option[ProjectionMeta] = {
    val covering =
      fresh.filter(p => (needed - RowIdColumn).subsetOf(p.columns.toSet))
    covering.find(_.sortedColumns.headOption.exists(filterRoots))
      .orElse(covering.headOption)
  }

  /** Zone-map file pruning: drop files whose per-column min/max provably
    * can't satisfy a top-level range constraint (constraints extracted from
    * the unresolved Column tree by Glue.rangeConstraints). Stats are keyed
    * by PHYSICAL name, so each logical column is looked up through the
    * file's rename map ([[FileEntry.physicalName]]). Conservative —
    * missing stats keep the file; exactness comes from the scan's own
    * filter (or, for the SQL row-level COW, from whole-file group
    * replacement: pruning only ever KEEPS whole files, never drops rows). */
  def pruneByZoneMaps(entries: Seq[FileEntry], predicate: Column): Seq[FileEntry] = {
    val cons = Glue.rangeConstraints(predicate)
    if (cons.isEmpty) return entries
    entries.filter { f =>
      cons.forall { case (c, op, raw) =>
        (f.colStats.get(f.physicalName(c)), normalizeStatValue(raw)) match {
          case (Some(st), Some(v)) => statMayMatch(st, op, v)
          case _ => true
        }
      }
    }
  }

  private def normalizeStatValue(v: Any): Option[Any] = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case other => Option(other)
  }

  /** May a file whose zone map is `st` contain a row satisfying `col op v`?
    * Conservative: any comparison doubt answers true (keep the file). */
  private def statMayMatch(st: ColStat, op: String, v: Any): Boolean = {
    def cmpTo(bound: String): Int = st.kind match {
      case "long" => v.asInstanceOf[Number].longValue.compareTo(bound.toLong)
      case "double" => v.asInstanceOf[Number].doubleValue.compareTo(bound.toDouble)
      // UTF-8 binary order, matching the Spark min/max that produced
      // the stats — String.compareTo (UTF-16 code units) disagrees on
      // supplementary-plane chars and could prune matching files
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(bound))
    }
    // a truncated string max is only a prefix of the true max —
    // treat it as +∞ for every upper-bound test
    try op match {
      case ">" => st.maxUnbounded || cmpTo(st.max) < 0
      case ">=" => st.maxUnbounded || cmpTo(st.max) <= 0
      case "<" => cmpTo(st.min) > 0
      case "<=" => cmpTo(st.min) >= 0
      case "=" => cmpTo(st.min) >= 0 &&
        (st.maxUnbounded || cmpTo(st.max) <= 0)
      case _ => true
    } catch { case _: Exception => true } // type mismatch → keep
  }

  /** Bucket pruning — the point-lookup complement of zone maps, which a
    * hash layout defeats (every bucket file spans the key's whole value
    * range): conjuncts restricting the single bucket key to a value set
    * (`=` gives one value, `IN` several; `valueSets` pairs each conjunct's
    * column with its values) keep only the files of the buckets
    * `pmod(murmur3(value, 42), bucketCount)` those values hash to — the
    * write-side assignment — so a point lookup touches 1/n of the table
    * before a single footer is read. Conjuncts must all hold, so the kept
    * bucket set is the intersection; nulls match nothing. Conservative:
    * requires a complete layout (a post-rewrite DML file carries no bucket
    * id → no pruning), and a value that fails to convert to the key's
    * Catalyst form keeps every file. Used by the API scan and the SQL scan
    * builder alike. */
  def pruneByBucket(entries: Seq[FileEntry], schema: StructType,
                    bucketKeys: Seq[String], bucketCount: Int,
                    valueSets: Seq[(String, Seq[Any])]): Seq[FileEntry] = {
    if (bucketKeys.size != 1 || bucketCount <= 0 ||
        entries.isEmpty || !entries.forall(_.bucket >= 0)) return entries
    val key = bucketKeys.head
    val keyType = schema.fields.find(_.name == key)
      .map(_.dataType).getOrElse(return entries)
    val sets = valueSets.collect { case (`key`, vs) => vs.filter(_ != null) }
    if (sets.isEmpty) return entries
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(keyType)
    def bucketOf(v: Any): Int = {
      val cat = v match {
        // rangeConstraints may surface values already in Catalyst form
        case u: org.apache.spark.unsafe.types.UTF8String => u
        case other => conv(other)
      }
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(cat, keyType, 42).toInt
      ((h % bucketCount) + bucketCount) % bucketCount
    }
    val kept = try sets.map(_.map(bucketOf).toSet).reduce(_ intersect _)
      catch { case _: Exception => return entries } // unconvertible → keep all
    entries.filter(f => kept.contains(f.bucket))
  }

  /** EXACT membership pruning for an IN-set: keep a file iff SOME value can
    * fall inside its `[min, max]` for `column` (missing stats keep it).
    * Stronger than the envelope `rangeConstraints` collapses an IN to —
    * a runtime join-key set {3, 900017} keeps only the files around those
    * two points, not everything in [3, 900017]. This is what a dynamic-
    * partition-pruning IN delivers at 100 TB: a dim filter that survives
    * 50 keys opens ~50 fact files, not the whole key envelope. */
  def pruneByInSet(entries: Seq[FileEntry], column: String,
                   values: Seq[Any]): Seq[FileEntry] = {
    val vs = values.flatMap(normalizeStatValue)
    if (vs.isEmpty) return entries // all-null IN-set: equality never matches,
    // but keep-conservative (Spark still evaluates the real predicate)

    // a runtime key set can be large (every dim key surviving the filter),
    // so membership is a SORTED-ARRAY range probe per file — O((V+F) log V),
    // not O(V·F): sort once per value kind, then per file ask "is any value
    // inside [min, max]?" with one binary search
    def anyIn[T](a: Array[T], lo: T, hi: Option[T])
                (implicit ord: Ordering[T]): Boolean = {
      var l = 0; var r = a.length // lowest index with a(idx) >= lo
      while (l < r) { val m = (l + r) >>> 1
        if (ord.lt(a(m), lo)) l = m + 1 else r = m }
      l < a.length && hi.forall(h => ord.lteq(a(l), h)) // hi=None means +∞
    }
    lazy val longs: Option[Array[Long]] = {
      // datetime values normalize to the same encoding their zone maps
      // store (timestamps → epoch micros, dates → epoch days): a star join
      // keyed on a date/timestamp column is the dominant 100 TB DPP shape
      // and must hit the exact per-value prune, not the keep-all fallback
      val conv: Seq[Option[Long]] = vs.map {
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte) =>
          Some(n.asInstanceOf[Number].longValue)
        case t: java.sql.Timestamp =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
        case i: java.time.Instant =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
        case d: java.sql.Date =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      }
      if (conv.forall(_.isDefined)) Some(conv.flatten.toArray.sorted) else None
    }
    lazy val doubles: Option[Array[Double]] = vs.forall(_.isInstanceOf[Number])
      match {
        case true => Some(vs.map(_.asInstanceOf[Number].doubleValue).toArray.sorted)
        case false => None
      }
    lazy val strings: Option[Array[org.apache.spark.unsafe.types.UTF8String]] =
      if (vs.forall(_.isInstanceOf[String]))
        Some(vs.map(v => org.apache.spark.unsafe.types.UTF8String
          .fromString(v.asInstanceOf[String])).toArray.sorted)
      else None

    entries.filter { f =>
      f.colStats.get(f.physicalName(column)) match {
        case Some(st) =>
          try st.kind match {
            case "long" if longs.isDefined =>
              anyIn(longs.get, st.min.toLong,
                if (st.maxUnbounded) None else Some(st.max.toLong))
            case "double" if doubles.isDefined =>
              anyIn(doubles.get, st.min.toDouble,
                if (st.maxUnbounded) None else Some(st.max.toDouble))
            case k if k != "long" && k != "double" && strings.isDefined =>
              anyIn(strings.get,
                org.apache.spark.unsafe.types.UTF8String.fromString(st.min),
                if (st.maxUnbounded) None
                else Some(org.apache.spark.unsafe.types.UTF8String
                  .fromString(st.max)))
            // kind/value mismatch: fall back to the per-value check, which
            // keeps the file on any comparison doubt
            case _ => vs.exists(v => statMayMatch(st, "=", v))
          } catch { case _: Exception => true }
        case None => true
      }
    }
  }

  /** Schema-merge modes (vastdb/util.py:18-83): `default` = containment,
    * `strict` = equality, `union` = unify. */
  def mergeSchemas(schemas: Seq[StructType], mode: String): StructType = mode match {
    case "strict" =>
      if (schemas.distinct.size > 1)
        throw NotSupportedSchema("strict merge: schemas differ")
      schemas.head
    case "union" =>
      schemas.reduce { (a, b) =>
        val names = a.fieldNames.toSet
        StructType(a.fields ++ b.fields.filterNot(f => names(f.name)))
      }
    case _ => // default: every schema contained in the union, consistent types
      val all = mergeSchemas(schemas, "union")
      schemas.foreach { s =>
        s.fields.foreach { f =>
          val g = all(f.name)
          if (g.dataType != f.dataType)
            throw NotSupportedSchema(s"column ${f.name}: ${f.dataType} vs ${g.dataType}")
        }
      }
      all
  }

  /** Root against which RELATIVE data/projection paths resolve for a table
    * dir. Normally the dir itself (so a staged rename can move the whole dir
    * atomically at commit); for a snapshot dir — which copies only manifest
    * trees — paths resolve against the ORIGINAL table dir, sharing its
    * immutable data files. */
  def dataRootFor(dir: Path): Path = {
    val s = dir.toString
    val i = s.indexOf("/.snapshot/")
    if (i < 0) dir
    else {
      val rest = s.substring(i + "/.snapshot/".length)
      val rel = rest.indexOf('/') match {
        case -1 => ""
        case j => rest.substring(j + 1)
      }
      Paths.get(s.substring(0, i)).resolve(rel)
    }
  }

  /** Resolve a manifest data path for `dir` (absolute legacy entries pass
    * through). Shared by Table.select and the DSv2 SQL catalog so both agree
    * on snapshot redirection. */
  def resolvePath(dir: Path, p: String): String =
    if (p.startsWith("/")) p else dataRootFor(dir).resolve(p).toString

  /** `Files.list` that closes the underlying stream (each open stream holds
    * a directory handle; a long-lived driver doing catalog maintenance must
    * not leak them). */
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** `Files.walk` that closes the underlying stream. */
  def walkPaths(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** CREATE TABLE (reference vastdb/schema.py:85-121; schema validated —
    * null/dictionary/union types are rejected at the TypeMapping layer). */
  def create(schemaNS: SchemaNS, name: String, schema: StructType): Table = {
    val dir = schemaNS.dir.resolve(name)
    if (Files.isDirectory(dir.resolve("_manifest"))) throw TableExists(name)
    schema.fields.foreach { f =>
      f.dataType match {
        case _: NullType => throw NotSupportedSchema(s"null type: ${f.name}")
        case _ => ()
      }
    }
    Files.createDirectories(dir.resolve("_manifest"))
    Files.createDirectories(dir.resolve("data"))
    Manifest.write(dir.resolve("_manifest").resolve(f"v${0}%08d.json"),
      TableManifest(0, schema.json, Nil, 0L,
        // type-mapping tag: reference sorted tables widen $row_id to
        // decimal128(38,0) (vastdb/table.py:41-44); here ids are identity
        // (never position-encoding), so int64 everywhere — see COVERAGE.md
        props = Map("graft.rowid.type" -> "int64"),
        commitMicros = System.currentTimeMillis() * 1000L), createNew = false)
    writeCurrent(dir, 0)
    // invisible to other transactions until commit removes the marker
    // (reference DDL isolation — created tables are tx-local until commit)
    Files.write(dir.resolve("_manifest").resolve(".pending"),
      schemaNS.tx.id.toString.getBytes("UTF-8"))
    schemaNS.tx.newTables.synchronized { schemaNS.tx.newTables += dir.toString }
    new Table(schemaNS, name, dir)
  }

  def currentVersion(tableDir: Path): Long = {
    val cur = tableDir.resolve("_manifest").resolve("CURRENT")
    if (Files.exists(cur)) new String(Files.readAllBytes(cur), "UTF-8").trim.toLong
    else // pointer missing (crash between CAS and pointer write): resolve max vN
      listDir(tableDir.resolve("_manifest"))
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .max
  }

  def writeCurrent(tableDir: Path, v: Long): Unit = {
    val mdir = tableDir.resolve("_manifest")
    val tmp = mdir.resolve(s".CURRENT.tmp${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, mdir.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def walkTables(underDir: Path): Seq[Path] =
    if (!Files.isDirectory(underDir)) Nil
    else walkPaths(underDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString == "_manifest")
      .map(_.getParent)
      .filterNot(_.toString.contains("/.snapshot/"))
      .sortBy(_.toString)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      walkPaths(p).reverse.foreach(Files.deleteIfExists(_))
    }
}
