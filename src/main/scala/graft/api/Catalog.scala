package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.json4s._
import org.json4s.jackson.Serialization

/**
 * File-backed catalog with snapshot-versioned commit (SURVEY §7 layering).
 *
 * Reference model (vastdb): Session → Transaction → Bucket → Schema (nested,
 * "a/b" paths) → Table, every operation carrying a txid, commit-on-exit
 * (vastdb/transaction.py:59-96, bucket.py:31-73, schema.py:41-83).
 *
 * Layout on storage (works on any Hadoop-compatible FS; local paths here):
 *   root/<bucket>/<schema…>/<table>/_manifest/v{N}.json   immutable manifests
 *   root/<bucket>/<schema…>/<table>/_manifest/CURRENT     version pointer
 *   root/<bucket>/<schema…>/<table>/data/ *.parquet        immutable data
 *   root/<bucket>/.snapshot/<name>/…                      manifest-tree copies
 *
 * Commit protocol: a transaction buffers new manifests; commit writes each
 * table's v{N+1}.json with CREATE_NEW — the filesystem's atomic
 * create-if-absent is the compare-and-swap, so two committers racing on the
 * same table version get exactly one winner and the loser raises `Conflict`
 * (the reference's HTTP 409 analog). CURRENT is then advanced (pointer is
 * advisory; readers can also resolve max v{N}). Data files are immutable and
 * shared across versions/snapshots, so snapshots copy only manifest trees.
 */
object Manifest {
  implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  /** Per-file, per-column zone map: min/max string-encoded with the
    * comparison kind ("long" = integral/timestamp-micros, "double",
    * "string"). Collected for every primitive column at write time. Long
    * string values store a truncated MIN (a prefix is always a sound —
    * merely weaker — lower bound) and set `maxUnbounded` when the stored
    * max is only a prefix of the true max (a truncated upper bound would
    * be unsound, so pruning must treat it as +∞). */
  case class ColStat(min: String, max: String, kind: String,
                     maxUnbounded: Boolean = false)

  /** One immutable data file + its row-id range (drives file-level pruning
    * for row-id-addressed DML), per-column zone maps, per-file
    * physical→logical column renames (lazy rename, no data rewrite), and
    * `bytes` = on-disk size captured at commit time (0 in manifests written
    * before the field existed): table stats and byte-budgeted changefeed
    * pacing read it from the manifest instead of issuing one filesystem
    * stat per file — O(files) round trips on an object store. */
  /** `bucket` = hash-bucket id under the table's bucket layout (-1 = file
    * not written by a bucket rewrite — the layout is degraded until
    * `optimizeBuckets` runs again). A file belongs to exactly one bucket:
    * the SQL scan groups files by it and reports key-grouped partitioning,
    * which is what lets two co-bucketed tables join with ZERO shuffle. */
  case class FileEntry(path: String, rows: Long, minRowId: Long, maxRowId: Long,
                       sorted: Boolean = false,
                       renames: Map[String, String] = Map.empty,
                       colStats: Map[String, ColStat] = Map.empty,
                       bytes: Long = 0L,
                       bucket: Int = -1) {
    /** This file's physical column for `logical`: see [[FileEntry.physicalName]]. */
    def physicalName(logical: String): String =
      FileEntry.physicalName(renames, logical)
  }
  object FileEntry {
    /** The physical column holding `logical` in a file whose rename map is
      * `renames` (physical → logical): the renamed physical name; else
      * `__absent_<logical>` when the same-named physical column is claimed
      * by ANOTHER logical (a rename or a drop tombstone), so readers
      * null-fill it instead of reading those bytes; else the name itself.
      * Zone-map stats are keyed by physical name, so pruning looks them up
      * through this too (an `__absent_` column has no stats → kept). */
    def physicalName(renames: Map[String, String], logical: String): String =
      renames.collectFirst { case (p, `logical`) => p }.getOrElse(
        if (renames.contains(logical)) s"__absent_$logical" else logical)
  }
  /** `stale` flips on any base-table DML so the picker stops serving the
    * projection until `refreshProjection` rebuilds it (the reference
    * maintains semi-sorted projections transparently server-side; here
    * maintenance is an explicit — and restartable — rebuild). */
  case class ProjectionMeta(name: String, columns: Seq[String],
                            sortedColumns: Seq[String], dir: String,
                            stale: Boolean = false)
  /** Materialized ROLLUP (aggregate projection): one row per distinct
    * `groupColumns` combination holding decomposable partial aggregates —
    * `__rows` (count(*)) plus, per measure column m, `__sum_m`/`__cnt_m`
    * (numeric only) and `__min_m`/`__max_m`. Any aggregate expressible as a
    * merge of those partials (sum, count, min, max, avg) grouped by a
    * SUBSET of `groupColumns` can be answered from the rollup instead of
    * the base files — at 100 TB that turns a full fact-table pass into a
    * scan of a few thousand pre-aggregated rows. `schemaJson` records the
    * rollup's physical schema (partial-column types derive from Spark's
    * aggregate typing at build time — recorded, not re-derived, so the
    * router can never disagree with the files). `stale` flips on any
    * base-table DML, exactly like projections: a stale rollup never serves. */
  /** `coveredFiles` = the base-table file paths whose rows the rollup
    * aggregates (data files are immutable, so path identity is content
    * identity): when DML only ADDED files since the last build, refresh
    * aggregates just the delta and merges partials with the existing
    * rollup — a 100 TB fact with daily appends re-reads one day, not the
    * table. Any covered file gone (COW rewrite, delete, overwrite) forces
    * the full rebuild: min/max partials cannot be subtracted. */
  case class AggProjectionMeta(name: String, groupColumns: Seq[String],
                               measureColumns: Seq[String], dir: String,
                               schemaJson: String, stale: Boolean = false,
                               coveredFiles: Seq[String] = Nil)
  /** Vector-index metadata. `dir` (table-dir-relative) holds the persisted
    * IVF structure — `centroids/` (centroid_id, c_vec) and `assigned/`
    * (_row_id, vec; hive-partitioned by SOURCE-FILE basename `__src=` then
    * `centroid_id=`, so a search statically prunes to its probed cells AND
    * refresh is file-granular: immutable data files mean a COW rewrite just
    * orphans old `__src` partitions and leaves new basenames uncovered).
    * `stale` flips on base-table DML exactly like projections: a stale index
    * never serves a search (brute-force fallback) until `refreshVectorIndex`.
    * `builtRows` = table rows at the last FULL k-means build — refresh
    * re-clusters only when the table has grown/shrunk ~4× past it (cell
    * balance gone); otherwise it assigns just the uncovered files to the
    * existing centroids, so steady-state maintenance never rescans the
    * corpus. dir == "" means metadata-only (declared on an empty table). */
  /** `dataColumn` = the LOGICAL column name at build time, which is the
    * physical column name inside the persisted `assigned/` parquet — after
    * a column RENAME the two diverge and refresh must rebuild fully (the
    * incremental path would read nulls under the new name). */
  case class VectorIndexMeta(column: String, metric: String,
                             dir: String = "", nCentroids: Int = 0,
                             stale: Boolean = false, builtRows: Long = 0,
                             dataColumn: String = "")
  case class BlobExpansionMeta(blobColumn: String, fieldsDdl: String,
                               targetTable: String)
  /** Persisted dedup-signature index, stored under `dir` hive-partitioned
    * by SOURCE FILE basename (`__src=`). Because data files are immutable,
    * coverage is file-granular and implicitly correct under DML: a COW
    * rewrite yields new basenames (uncovered → delta recompute at refresh)
    * and orphans the old partitions (dropped at refresh) — no stale flag,
    * and a 100 TB corpus never recomputes signatures it already has.
    *
    * `kind = "text"`: per row a k-hash minhash (over shingleN-gram shingles,
    * banded into `bands` LSH bands at query time) plus a 64-bit simhash.
    * `kind = "vector"`: per row `tables` hyperplane-LSH signatures of
    * `planes` bits over a `dim`-dimensional embedding column. */
  case class DedupIndexMeta(column: String, k: Int = 64, bands: Int = 16,
                            shingleN: Int = 3, dir: String = "",
                            kind: String = "text", dim: Int = 0,
                            planes: Int = 0, tables: Int = 0)
  /** `commitMicros` = wall-clock commit time (epoch µs), stamped by the
    * commit CAS — drives `TIMESTAMP AS OF` time travel (newest version
    * committed at or before the asked instant). 0 on manifests from before
    * the field existed, which sorts them "before any timestamp". */
  case class TableManifest(version: Long,
                           schemaJson: String,
                           files: Seq[FileEntry],
                           nextRowId: Long,
                           sortingKeys: Seq[String] = Nil,
                           projections: Seq[ProjectionMeta] = Nil,
                           aggProjections: Seq[AggProjectionMeta] = Nil,
                           vectorIndexes: Seq[VectorIndexMeta] = Nil,
                           blobExpansions: Seq[BlobExpansionMeta] = Nil,
                           dedupIndexes: Seq[DedupIndexMeta] = Nil,
                           props: Map[String, String] = Map.empty,
                           commitMicros: Long = 0L,
                           clusteringKeys: Seq[String] = Nil,
                           bucketKeys: Seq[String] = Nil,
                           bucketCount: Int = 0) {
    def schema: StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def totalRows: Long = files.map(_.rows).sum
  }

  def write(p: Path, m: TableManifest, createNew: Boolean): Unit = {
    val body = Serialization.writePretty(m).getBytes("UTF-8")
    if (createNew) {
      // atomic create-if-absent = the commit CAS
      try Files.write(p, body, java.nio.file.StandardOpenOption.CREATE_NEW)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw Conflict(s"concurrent commit: ${p.getFileName} already exists")
      }
    } else Files.write(p, body)
    ()
  }

  /** Total manifest file reads this JVM — observability for specs that
    * assert a code path does NO catalog I/O (e.g. the optimizer rules'
    * no-op guard on plans with no graft tables). */
  val readCount = new AtomicLong(0L)

  def read(p: Path): TableManifest = {
    readCount.incrementAndGet()
    Serialization.read[TableManifest](new String(Files.readAllBytes(p), "UTF-8"))
  }
}

/** Session facade: SparkSession + catalog root (reference Session holds
  * endpoint + credentials, vastdb/session.py:20-70). */
class VastSession(val spark: SparkSession, val root: String) {
  Files.createDirectories(Paths.get(root))
  private val txCounter = new AtomicLong(System.currentTimeMillis())
  // live (begun, not committed/rolled back) transactions: vacuumPending must
  // never reap a table dir a live transaction could still commit, regardless
  // of the age cutoff a caller passes
  private[api] val liveTx =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Transaction]()

  /** Context-manager transaction: commit on clean exit, rollback on exception
    * (vastdb/transaction.py:77-90). */
  def transaction[T](body: Transaction => T): T = {
    val tx = beginTransaction()
    try {
      val r = body(tx)
      tx.commit()
      r
    } catch {
      case e: Throwable =>
        tx.rollback()
        throw e
    }
  }

  def beginTransaction(): Transaction = {
    val tx = new Transaction(this, txCounter.incrementAndGet())
    liveTx.add(tx)
    tx
  }

  /** Reconnect to a live transaction by id (reference transaction GET,
    * vastdb/_internal.py:1697-1745): None once committed/rolled back. */
  def getTransaction(id: Long): Option[Transaction] =
    liveTx.iterator().asScala.find(_.id == id)

  def createBucket(name: String): Unit =
    Files.createDirectories(Paths.get(root, name))

  /** Remove tables orphaned by a crash between Table.create and commit:
    * their `.pending` marker (written by Table.create, removed at commit)
    * makes them permanently invisible AND undroppable through the API. A
    * marker older than `olderThanMillis` whose creating transaction can no
    * longer commit (this process has no record of it) is garbage; the
    * default keeps anything a live long-running transaction could still
    * reveal. Returns the removed table dirs. */
  def vacuumPending(olderThanMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Nil
    // tables a live transaction created are NOT garbage at any age — its
    // commit would otherwise lose the create with no error. Snapshot each
    // buffer under its lock: the owning thread may be appending concurrently
    val live = liveTx.iterator().asScala
      .flatMap(t => t.newTables.synchronized(t.newTables.toList)).toSet
    Table.listDir(rootP)
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
      .flatMap(bucketP => Table.walkTables(bucketP))
      .filterNot(tdir => live(tdir.toString))
      .filter { tdir =>
        val marker = tdir.resolve("_manifest").resolve(".pending")
        Files.exists(marker) &&
          (try Files.getLastModifiedTime(marker).toMillis < cutoff
           catch { case _: Exception => false })
      }
      .map { tdir =>
        Table.deleteRecursively(tdir)
        audit("vacuum_pending", table = Some(tdir.toString))
        tdir.toString
      }
  }

  /** Typed audit event (reference audit-log table, vastdb/transaction.py:
    * 107-121: a system table with a pinned column contract, not
    * schema-on-read). WAL-then-columnar: events append to a JSONL tail
    * (atomic, no Spark job on the hot path — every insert/commit audits),
    * and once the tail passes `AuditRollBytes` it rolls into a parquet
    * segment under `_audit/segments/`, so at 100 TB the audit log itself is
    * a columnar, predicate-prunable table rather than a giant JSON file. */
  def audit(op: String, tx: Option[Long] = None, table: Option[String] = None,
            rows: Option[Long] = None): Unit = {
    val dir = Paths.get(root, "_audit")
    Files.createDirectories(dir)
    // full JSON string escaping: control chars (a table name with a newline
    // must not split the JSONL line into two malformed fragments)
    def js(s: String) = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '\\' => b.append("\\\\")
        case '"' => b.append("\\\"")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
    val line = s"""{"ts":${System.currentTimeMillis()},"tx":${tx.map(_.toString).getOrElse("null")},""" +
      s""""op":${js(op)},"table":${table.map(js).getOrElse("null")},""" +
      s""""rows":${rows.map(_.toString).getOrElse("null")}}"""
    val tail = dir.resolve("audit.jsonl")
    val needRoll = synchronized {
      Files.write(tail, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      try Files.size(tail) > VastSession.AuditRollBytes
      catch { case _: Exception => false } // another process moved the tail
    }
    // the roll is OPPORTUNISTIC and runs OUTSIDE the append lock (it's a
    // Spark job — holding the session monitor would stall every concurrent
    // audit/commit for its duration): audit() is called from inside commit()
    // after the CAS is already durable, so a roll failure (disk full,
    // executor loss) must not surface as a commit exception; leftover
    // tails/rolling files are picked up by the next successful roll and by
    // every auditLog() read.
    if (needRoll)
      try rollLock.synchronized(rollAuditTail(dir))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private val rollLock = new Object

  /** Roll the JSONL tail (plus any crash-leftover rolling files) into a
    * parquet segment. Crash-safe without a lock file: the tail is first
    * atomically renamed (so concurrent appends start a fresh tail), then
    * converted; a crash between the two leaves a `rolling-*` file that the
    * next roll — and every `auditLog()` read — still picks up. */
  private def rollAuditTail(dir: Path): Unit = {
    val tail = dir.resolve("audit.jsonl")
    if (Files.exists(tail)) {
      val staged = dir.resolve(s"rolling-${java.util.UUID.randomUUID().toString.take(8)}.jsonl")
      try Files.move(tail, staged, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: Exception => () }
    }
    val rolling = Table.listDir(dir)
      .filter(_.getFileName.toString.startsWith("rolling-"))
    if (rolling.isEmpty) return
    val segDir = dir.resolve("segments")
    Files.createDirectories(segDir)
    rolling.foreach { f =>
      VastSession.auditTailDf(spark, f)
        .write.mode("append").parquet(segDir.toString)
      Files.deleteIfExists(f)
    }
  }
}

object VastSession {
  def apply(spark: SparkSession, root: String): VastSession =
    new VastSession(spark, root)

  /** The audit log's pinned column contract (reference
    * vastdb/transaction.py:107-121): stable regardless of which ops have
    * been recorded — consumers can depend on it like any system table. */
  /** Tail size past which `audit` rolls the JSONL into a parquet segment.
    * Small enough that the tail read stays trivial, large enough that the
    * roll (a Spark job) is rare relative to audited operations. */
  val AuditRollBytes: Long = 4L << 20

  val AuditSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = true),
    StructField("tx", LongType, nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("table", StringType, nullable = true),
    StructField("rows", LongType, nullable = true)))

  /** JSONL tail parsed under an EXPLICIT schema (never inference — the
    * contract must hold for an empty or partially-written tail too). */
  private[api] def auditTailDf(spark: SparkSession, p: Path): DataFrame = {
    val raw = StructType(Seq(
      StructField("ts", LongType), StructField("tx", LongType),
      StructField("op", StringType), StructField("table", StringType),
      StructField("rows", LongType)))
    spark.read.schema(raw).option("ignoreMissingFiles", "true").json(p.toString)
      .select(timestamp_millis(col("ts")).as("ts"), col("tx"), col("op"),
        col("table"), col("rows"))
  }
}

/**
 * Transaction: pins each table's manifest version at first read (repeatable
 * reads), buffers written manifests (invisible to other transactions until
 * commit — the reference's DDL-isolation semantics,
 * vastdb/tests/test_tables.py:688-888), commits via the CAS protocol above.
 */
class Transaction(val session: VastSession, val id: Long) {
  import Manifest._

  private[api] var active = true
  // table key (absolute table dir) -> pinned (version, manifest)
  private[api] val readSet =
    scala.collection.mutable.LinkedHashMap.empty[String, (Long, TableManifest)]
  // table key -> pending manifest to commit (version = read version + 1 at commit)
  private[api] val writeSet =
    scala.collection.mutable.LinkedHashMap.empty[String, TableManifest]
  // data files created by this tx (deleted on rollback)
  private[api] val newFiles = scala.collection.mutable.ArrayBuffer.empty[String]
  // table dirs created by this tx (removed on rollback)
  private[api] val newTables = scala.collection.mutable.ArrayBuffer.empty[String]
  private[api] val droppedTables = scala.collection.mutable.ArrayBuffer.empty[String]
  // dirs/files whose deletion must wait until the commit is durable (e.g. a
  // replaced dedup-index dir, signature partitions a staged COW orphaned):
  // a rollback of the staging transaction must leave them intact because the
  // COMMITTED manifest still references their contents
  private[api] val deleteOnCommit = scala.collection.mutable.ArrayBuffer.empty[String]
  // staged directory renames (table or schema), src -> dst: nothing moves on
  // disk until commit, so concurrent transactions keep seeing the old name
  // and rollback is a no-op (reference rename isolation,
  // vastdb/tests/test_tables.py:688-757)
  private[api] val pendingRenames =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** A table dir is visible unless another still-uncommitted transaction
    * created it (`.pending` marker written by Table.create, removed at
    * commit). */
  private[api] def visibleTable(tableDir: Path): Boolean =
    !Files.exists(tableDir.resolve("_manifest").resolve(".pending")) ||
      newTables.contains(tableDir.toString)

  /** Reference is_active (vastdb/transaction.py:124-133); `id` is the
    * active_txid analog. */
  def isActive: Boolean = active

  def requireActive(): Unit = if (!active) throw TransactionInactive()

  def bucket(name: String): Bucket = {
    requireActive()
    val p = Paths.get(session.root, name)
    if (!Files.isDirectory(p)) throw MissingBucket(name)
    new Bucket(this, name, p)
  }

  /** Pinned manifest for a table dir (reads current at first touch). */
  private[api] def manifestFor(tableDir: Path): TableManifest = {
    val key = tableDir.toString
    writeSet.get(key).getOrElse {
      readSet.getOrElseUpdate(key, {
        val cur = Table.currentVersion(tableDir)
        (cur, Manifest.read(tableDir.resolve("_manifest").resolve(f"v$cur%08d.json")))
      })._2
    }
  }

  private[api] def stageWrite(tableDir: Path, m: TableManifest): Unit = {
    requireActive()
    // ensure a read version is pinned for the CAS check at commit
    manifestFor(tableDir)
    writeSet(tableDir.toString) = m
  }

  /** Staged renames rewritten through the renames applied BEFORE them (in
    * staging order): a schema rename staged earlier moves everything under
    * it, so a table rename inside that schema must execute against the
    * post-move path — otherwise its src no longer exists at apply time and
    * the rename would be lost. */
  private def resolvedRenames: Seq[(String, String)] = {
    def rewrite(p: String, earlier: Seq[(String, String)]): String =
      earlier.foldLeft(p) { case (cur, (s, d)) =>
        if (cur == s) d
        else if (cur.startsWith(s + "/")) d + cur.substring(s.length)
        else cur
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    pendingRenames.foreach { case (src, dst) =>
      out += ((rewrite(src, out.toSeq), rewrite(dst, out.toSeq)))
    }
    out.toSeq
  }

  /** Does `p` exist AFTER the moves in `applied` have (notionally) run?
    * Maps `p` back through the moves in reverse to its pre-commit path and
    * checks the real filesystem — lets commit re-validate every staged
    * rename against current disk state before anything irreversible runs. */
  private def existsAfter(p: String, applied: Seq[(String, String)]): Boolean = {
    var cur = p
    for ((s, d) <- applied.reverse) {
      if (cur == d) cur = s
      else if (cur.startsWith(d + "/")) cur = s + cur.substring(d.length)
      else if (cur == s || cur.startsWith(s + "/")) return false // moved away
    }
    Files.exists(Paths.get(cur))
  }

  /** Two-phase commit: phase 1 re-validates every staged rename against
    * current disk state (a concurrent commit may have created a destination
    * since staging) and CAS-writes every staged manifest (no pointers move);
    * a failure of ANY step (a Conflict, an I/O error) deletes the manifests
    * already written in this commit, rolls the whole transaction back and
    * rethrows — no partial commit, and no orphan `v{N+1}` left above
    * CURRENT to fail every later commit of that table with a Conflict.
    * Phase 2 (validated, cannot conflict) advances CURRENT pointers, reveals
    * tables created here, applies staged renames, and performs drops; a
    * rename that still fails there (a true mid-phase-2 race) is a HARD error
    * naming the partially-applied state, never a silent skip. */
  def commit(): Unit = {
    requireActive()
    val renames = resolvedRenames
    val written = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    try {
      renames.zipWithIndex.foreach { case ((src, dst), i) =>
        val before = renames.take(i)
        if (!existsAfter(src, before))
          throw Conflict(s"rename source no longer exists: $src")
        if (existsAfter(dst, before))
          throw Conflict(s"rename destination was created concurrently: $dst")
        // the destination's parent schema must also survive to phase 2 — a
        // concurrently-dropped parent would otherwise pass validation here
        // and fail mid-phase-2 after manifests are already committed
        val parent = Option(Paths.get(dst).getParent)
        if (parent.exists(p => !existsAfter(p.toString, before)))
          throw Conflict(s"rename destination parent no longer exists: ${parent.get}")
      }
      writeSet.foreach { case (key, m) =>
        val tableDir = Paths.get(key)
        // a staged write against a dir that vanished (concurrent drop, or an
        // over-eager vacuum) is a recoverable conflict, never a silent skip
        if (!Files.isDirectory(tableDir))
          throw Conflict(s"table dir vanished before commit: $key")
        val base = readSet.get(key).map(_._1).getOrElse(0L)
        val next = base + 1
        // commit stamps must be MONOTONIC per table: TIMESTAMP AS OF walks
        // newest-first and stops at the first stamp <= t, so a backwards
        // wall-clock step between two commits would make an instant between
        // them resolve to the LATER version. Clamp to predecessor + 1µs.
        val prevMicros = {
          val p = tableDir.resolve("_manifest").resolve(f"v$base%08d.json")
          if (Files.exists(p)) Manifest.read(p).commitMicros else 0L
        }
        Manifest.write(tableDir.resolve("_manifest").resolve(f"v$next%08d.json"),
          m.copy(version = next,
            commitMicros = math.max(prevMicros + 1,
              System.currentTimeMillis() * 1000L)), createNew = true)
        written += ((tableDir, next))
      }
    } catch {
      case e: Throwable =>
        written.foreach { case (tdir, next) =>
          try Files.deleteIfExists(tdir.resolve("_manifest").resolve(f"v$next%08d.json"))
          catch { case c: Exception => e.addSuppressed(c) }
        }
        // still active: removes staged data files + created tables
        try rollback() catch { case c: Exception => e.addSuppressed(c) }
        throw e
    }
    active = false
    session.liveTx.remove(this)
    written.foreach { case (tdir, next) => Table.writeCurrent(tdir, next) }
    newTables.foreach { t =>
      Files.deleteIfExists(Paths.get(t).resolve("_manifest").resolve(".pending"))
    }
    renames.foreach { case (src, dst) =>
      try Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"commit partially applied: manifests are committed but rename " +
            s"$src -> $dst failed mid-phase-2 (${e.getMessage}); " +
            "remaining renames/drops were not applied", e)
      }
    }
    droppedTables.foreach { d => Table.deleteRecursively(Paths.get(d)) }
    deleteOnCommit.foreach { d => Table.deleteRecursively(Paths.get(d)) }
    // rows stays null here: the pinned contract's `rows` means row counts
    // (each staged op already audited its own), not staged-table counts
    session.audit("commit", tx = Some(id))
  }

  def rollback(): Unit = {
    if (!active) return
    active = false
    session.liveTx.remove(this)
    newFiles.foreach(f => Files.deleteIfExists(Paths.get(f)))
    newTables.foreach(t => Table.deleteRecursively(Paths.get(t)))
    session.audit("rollback", tx = Some(id))
  }

  /** System catalog: all tables visible to this transaction
    * (reference `tx.catalog()`, vastdb/transaction.py:107-121). */
  def catalog(): DataFrame = {
    requireActive()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, Long, Long)]
    val rootP = Paths.get(session.root)
    if (Files.isDirectory(rootP)) {
      Table.listDir(rootP)
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
        .foreach { bucketP =>
          Table.walkTables(bucketP).filter(visibleTable).foreach { tdir =>
            val m = manifestFor(tdir)
            val rel = bucketP.relativize(tdir)
            val schemaPath = Option(rel.getParent).map(_.toString).getOrElse("")
            rows += ((bucketP.getFileName.toString, schemaPath,
              tdir.getFileName.toString, m.version, m.totalRows,
              m.files.size.toLong))
          }
        }
    }
    import session.spark.implicits._
    rows.toSeq.toDF("bucket", "schema", "table", "version", "num_rows", "num_files")
  }

  /** Register every table visible to this transaction as a Spark temp view
    * named `<bucket>_<schema>_<table>` (nested '/' → '_'), so plain
    * `spark.sql` can query the catalog at this transaction's snapshot.
    * (A DataSource-V2 TableCatalog is the heavier long-term shape; views
    * pin the same manifests this transaction reads.) */
  def registerViews(): Seq[String] = {
    requireActive()
    val rootP = Paths.get(session.root)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Files.isDirectory(rootP)) {
      Table.listDir(rootP)
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
        .foreach { bucketP =>
          Table.walkTables(bucketP).filter(visibleTable).foreach { tdir =>
            val rel = bucketP.relativize(tdir).toString.replace('/', '_')
            val view = s"${bucketP.getFileName}_$rel"
            val schemaPath = Option(bucketP.relativize(tdir).getParent)
              .map(_.toString).getOrElse("")
            val tbl = new Bucket(this, bucketP.getFileName.toString, bucketP)
              .schema(schemaPath).table(tdir.getFileName.toString)
            tbl.select().createOrReplaceTempView(view)
            names += view
          }
        }
    }
    names.toSeq
  }

  /** Audit log as a queryable DataFrame with the PINNED column contract
    * `VastSession.AuditSchema` — (ts, tx, op, table, rows) — like the
    * reference's typed audit-log system table (vastdb/transaction.py:
    * 107-121). Rolled parquet segments union the JSONL tail (and any
    * crash-leftover rolling files); an empty log still has the schema. */
  def auditLog(): DataFrame = {
    requireActive()
    val spark = session.spark
    val dir = Paths.get(session.root, "_audit")
    val segDir = dir.resolve("segments")
    val parts = Seq.newBuilder[DataFrame]
    // ignoreMissingFiles: a concurrent roll can rename/delete the tail or a
    // rolling file between this listing and the action that reads it — the
    // moved rows are in the parquet segments by then, so skipping the
    // vanished file keeps the union consistent instead of failing the read
    if (Files.isDirectory(segDir) && Table.listDir(segDir).exists(
        _.getFileName.toString.endsWith(".parquet")))
      parts += spark.read.schema(VastSession.AuditSchema)
        .option("ignoreMissingFiles", "true").parquet(segDir.toString)
    if (Files.isDirectory(dir))
      Table.listDir(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n == "audit.jsonl" || (n.startsWith("rolling-") && n.endsWith(".jsonl"))
        }
        .foreach(p => parts += VastSession.auditTailDf(spark, p))
    parts.result().reduceOption(_.unionAll(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        VastSession.AuditSchema))
  }

  /** Re-bind a detached [[TableMetadata]] handle into THIS transaction
    * (reference table_from_metadata, /root/reference/vastdb/transaction.py:135-137):
    * the handle's cached manifest seeds this transaction's pin, so the
    * re-bind costs a couple of directory stats and ZERO manifest reads —
    * a hot loop of short transactions over one table skips the per-tx
    * manifest parse. Reads through the returned table serve the handle's
    * pinned VERSION (snapshot semantics, same contract as the repeatable-
    * read pin); call `Table.reload()` or `TableMetadata.load(tx)` to
    * observe newer commits. If this transaction already pinned (or staged
    * a write for) the table, that pin wins — repeatable read inside a
    * transaction is never broken by a handle. */
  def tableFromMetadata(md: TableMetadata): Table = {
    requireActive()
    val t = bucket(md.bucketName).schema(md.schemaPath).table(md.tableName)
    readSet.getOrElseUpdate(t.dir.toString, (md.version, md.manifest))
    t
  }

  /** Every bucket snapshot visible to this transaction, as read-only
    * bucket views — the reference's catalog_snapshots workflow
    * (/root/reference/vastdb/transaction.py:107-109 walks the catalog
    * bucket's snapshots; here snapshots are per-bucket, so the listing
    * spans all buckets). Compose with `catalog()`-style listings or
    * `snapshot.schema(...).table(...)` reads. */
  def catalogSnapshots(): Seq[Bucket] = {
    requireActive()
    val rootP = Paths.get(session.root)
    if (!Files.isDirectory(rootP)) Nil
    else Table.listDir(rootP)
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
      .flatMap { bp =>
        val b = new Bucket(this, bp.getFileName.toString, bp)
        b.snapshots.map(b.snapshot)
      }
  }
}

/**
 * Detached table-metadata handle (reference TableMetadata,
 * /root/reference/vastdb/table_metadata.py:54-226): schema, stats, layout
 * and manifest version captured once, then usable ACROSS transactions —
 * the reference keeps a schema/stats handle alive between transactions and
 * re-binds it cheaply via table_from_metadata; here the handle carries the
 * whole (immutable) manifest, so re-binding is free and metadata reads
 * never touch the catalog. `load(tx)` re-reads CURRENT (the reference's
 * load/reload) and re-pins the handle.
 */
class TableMetadata private[api] (
    val bucketName: String, val schemaPath: String, val tableName: String,
    @volatile private[api] var manifest: Manifest.TableManifest) {

  def version: Long = manifest.version
  def schema: StructType = manifest.schema
  def numRows: Long = manifest.totalRows
  def numFiles: Int = manifest.files.size
  /** Sorting-key column names (reference sorted_columns). */
  def sortedColumns: Seq[String] = manifest.sortingKeys
  /** Reference full_path (table_metadata.py:39-42). */
  def fullPath: String = s"$bucketName/$schemaPath/$tableName"
  override def toString: String = fullPath

  /** Handle for the same table under a new name (reference rename_table
    * mutates the ref; an immutable copy composes better with caching). */
  def renamed(newName: String): TableMetadata =
    new TableMetadata(bucketName, schemaPath, newName, manifest)

  /** Re-read CURRENT through `tx` and re-pin the handle (reference
    * load/load_schema/load_stats). Also refreshes the transaction's own
    * pin when it has no staged write — the explicit, caller-chosen break
    * of repeatable read, same contract as `Table.reload()`. */
  def load(tx: Transaction): Unit = {
    val t = tx.bucket(bucketName).schema(schemaPath).table(tableName)
    t.reload()
    manifest = t.manifest
  }

  override def equals(other: Any): Boolean = other match {
    case m: TableMetadata => fullPath == m.fullPath && version == m.version
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(fullPath, java.lang.Long.valueOf(version))
}

/** Bucket ≈ catalog/database; owns snapshots (vastdb/bucket.py:31-73). */
class Bucket(val tx: Transaction, val name: String, val dir: Path) {

  /** Nested schema path "a/b" (vastdb/schema.py:38). */
  def schema(path: String): SchemaNS = {
    val p = dir.resolve(path)
    if (tx.pendingRenames.contains(p.toString)) throw MissingSchema(path)
    tx.pendingRenames.find(_._2 == p.toString) match {
      case Some((src, _)) => return new SchemaNS(this, path, Paths.get(src))
      case None => ()
    }
    if (!Files.exists(p.resolve(".graft_schema"))) throw MissingSchema(path)
    new SchemaNS(this, path, p)
  }

  def createSchema(path: String): SchemaNS = createSchema(path, failIfExists = true)

  /** `failIfExists = false` returns the existing schema instead of raising
    * (reference create_schema fail_if_exists, vastdb/schema.py:41-52). */
  def createSchema(path: String, failIfExists: Boolean): SchemaNS = {
    val p = dir.resolve(path)
    if (Files.exists(p.resolve(".graft_schema"))) {
      if (failIfExists) throw SchemaExists(path)
      return schema(path)
    }
    Files.createDirectories(p)
    Files.write(p.resolve(".graft_schema"), Array.emptyByteArray)
    tx.newTables.synchronized { tx.newTables += p.toString } // rollback removes the schema dir
    new SchemaNS(this, path, p)
  }

  /** Missing-tolerant lookup (reference schema(fail_if_missing=False)). */
  def schemaOption(path: String): Option[SchemaNS] =
    try Some(schema(path)) catch { case _: MissingSchema => None }

  def schemas: Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else Table.walkPaths(dir)
      .filter(p => p.getFileName.toString == ".graft_schema")
      .map(p => dir.relativize(p.getParent).toString)
      .filterNot(_.startsWith(".snapshot"))
      .sorted

  /** Paginated, prefix-filtered schema listing (reference list_schemas
    * pagination, vastdb/_internal.py:1188-1236). */
  def listSchemas(prefix: String = "", startAfter: String = "",
                  maxKeys: Int = 1000): (Seq[String], Option[String]) = {
    val all = schemas.filter(_.startsWith(prefix)).filter(_ > startAfter)
    val page = all.take(maxKeys)
    (page, if (all.size > maxKeys) Some(page.last) else None)
  }

  /** Read-only point-in-time view: copy the manifest trees (data shared).
    * Reference: `bucket/.snapshot/<name>` (vastdb/bucket.py:43-70). */
  def createSnapshot(snapName: String): Unit = {
    val snapDir = dir.resolve(".snapshot").resolve(snapName)
    Files.createDirectories(snapDir)
    Table.walkTables(dir).filter(tx.visibleTable).foreach { tdir =>
      val rel = dir.relativize(tdir)
      val dst = snapDir.resolve(rel)
      Files.createDirectories(dst.resolve("_manifest"))
      // copy only CURRENT + its manifest; absolute data paths stay shared
      val cur = Table.currentVersion(tdir)
      Files.copy(tdir.resolve("_manifest").resolve(f"v$cur%08d.json"),
        dst.resolve("_manifest").resolve(f"v$cur%08d.json"),
        StandardCopyOption.REPLACE_EXISTING)
      Table.writeCurrent(dst, cur)
      // propagate schema markers so snapshot traversal works
      var sp = Option(rel.getParent)
      while (sp.isDefined) {
        val marker = snapDir.resolve(sp.get).resolve(".graft_schema")
        if (!Files.exists(marker)) {
          Files.createDirectories(marker.getParent)
          Files.write(marker, Array.emptyByteArray)
        }
        sp = Option(sp.get.getParent)
      }
    }
  }

  def snapshots: Seq[String] = {
    val sdir = dir.resolve(".snapshot")
    if (!Files.isDirectory(sdir)) Nil
    else Table.listDir(sdir).map(_.getFileName.toString).sorted
  }

  /** Open a snapshot as a read-only bucket view. */
  def snapshot(snapName: String): Bucket = {
    val p = dir.resolve(".snapshot").resolve(snapName)
    if (!Files.isDirectory(p)) throw MissingSnapshot(snapName)
    new Bucket(tx, s"$name/.snapshot/$snapName", p)
  }
}

/** Schema (namespace of tables; nestable — vastdb/schema.py:41-83). */
class SchemaNS(val bucket: Bucket, val path: String, val dir: Path) {
  def tx: Transaction = bucket.tx

  def createTable(name: String, schema: StructType): Table =
    Table.create(this, name, schema)

  /** `failIfExists = false` returns the existing VISIBLE table instead of
    * raising (reference create_table fail_if_exists, vastdb/schema.py:85-121).
    * A same-named table created by another still-uncommitted transaction is
    * not visible — creating over it raises TableExists (a genuine conflict),
    * never returns the other transaction's pending table. */
  def createTable(name: String, schema: StructType,
                  failIfExists: Boolean): Table =
    if (failIfExists) Table.create(this, name, schema)
    else tableOption(name).getOrElse(Table.create(this, name, schema))

  /** Missing-tolerant lookup (reference table(fail_if_missing=False)). */
  def tableOption(name: String): Option[Table] =
    try Some(table(name)) catch { case _: MissingTable => None }

  /** Infer a merged schema from the parquet files' footers, create the
    * table, and import them — the reference's README bulk-load helper
    * (vastdb/util.py:18-43, create_table_from_files). */
  def createTableFromFiles(name: String, parquetFiles: Seq[String],
                           mergeMode: String = "default"): Table = {
    val spark = tx.session.spark
    // ONE footer-merging pass for the common modes — a per-file schema read
    // is a sequential driver job per file, which kills bulk loads; "strict"
    // genuinely needs per-file schemas for its equality check
    val merged =
      if (mergeMode == "strict")
        Table.mergeSchemas(parquetFiles.map(f => spark.read.parquet(f).schema),
          mergeMode)
      else spark.read.option("mergeSchema", "true")
        .parquet(parquetFiles: _*).schema
    val t = Table.create(this, name, merged)
    t.importFiles(parquetFiles, mergeMode)
    t
  }

  /** CREATE TABLE from Arrow-like logical types — runs the TypeMapping
    * validator (unsigned widening, time tagging, FSL element rules,
    * null/dictionary/union rejection — SURVEY §1.3). */
  def createTable(name: String,
                  logical: Seq[(String, graft.types.TypeMapping.LogicalType)]): Table =
    Table.create(this, name, graft.types.TypeMapping.toSparkSchema(logical))

  def table(name: String): Table = {
    val p = dir.resolve(name)
    // renamed away by this transaction → gone under the old name
    if (tx.pendingRenames.contains(p.toString)) throw MissingTable(name)
    // renamed-to by this transaction → serve from the source dir (the move
    // happens at commit) under the new name
    tx.pendingRenames.find(_._2 == p.toString) match {
      case Some((src, _)) => return new Table(this, name, Paths.get(src))
      case None => ()
    }
    if (!Files.isDirectory(p.resolve("_manifest"))) throw MissingTable(name)
    if (!tx.visibleTable(p)) throw MissingTable(name)
    new Table(this, name, p)
  }

  def tables: Seq[String] = {
    val disk =
      if (!Files.isDirectory(dir)) Nil
      else Table.listDir(dir)
        .filter(p => Files.isDirectory(p.resolve("_manifest")) &&
          tx.visibleTable(p) && !tx.pendingRenames.contains(p.toString))
        .map(_.getFileName.toString)
    val renamedIn = tx.pendingRenames.collect {
      case (_, dst) if Paths.get(dst).getParent == dir =>
        Paths.get(dst).getFileName.toString
    }
    (disk ++ renamedIn).toSeq.sorted
  }

  /** Paginated, prefix-filtered listing (reference list APIs paginate with
    * next_key + prefix/exact filters, vastdb/_internal.py:1483-1531). */
  def listTables(prefix: String = "", startAfter: String = "",
                 maxKeys: Int = 1000): (Seq[String], Option[String]) = {
    val all = tables.filter(_.startsWith(prefix)).filter(_ > startAfter)
    val page = all.take(maxKeys)
    (page, if (all.size > maxKeys) Some(page.last) else None)
  }

  def createSubSchema(sub: String): SchemaNS = bucket.createSchema(s"$path/$sub")

  def dropSchema(): Unit = {
    if (tables.nonEmpty) throw NotSupportedCommand(s"schema $path not empty")
    Files.deleteIfExists(dir.resolve(".graft_schema"))
    Table.deleteRecursively(dir)
  }

  /** Staged rename: recorded in the transaction and applied (one atomic
    * directory move) at commit — invisible to concurrent transactions,
    * no-op on rollback. The returned handle keeps reading the source dir
    * until then. */
  def renameSchema(newName: String): SchemaNS = {
    tx.requireActive()
    val dst = dir.getParent.resolve(newName)
    if (Files.exists(dst)) throw SchemaExists(newName)
    tx.pendingRenames(dir.toString) = dst.toString
    new SchemaNS(bucket, path.split('/').dropRight(1).:+(newName).mkString("/"), dir)
  }
}
