package org.apache.spark.sql.graftglue

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.catalog.SupportsDelete
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder,
  RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetTable, ParquetWrite}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.api.Manifest

/**
 * DataSource-V2 TableCatalog over the graft manifest store, so plain SQL can
 * address catalog tables natively:
 *
 *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftSqlCatalog].getName)
 *   spark.conf.set("spark.sql.catalog.graft.root", "/path/to/root")
 *   spark.sql("SELECT * FROM graft.bucket.schema.table WHERE ...")
 *
 * Reads resolve the table's CURRENT manifest and delegate scanning to
 * Spark's own ParquetTable (full pushdown/pruning/vectorization) through
 * one table class, [[ZoneMapTable]]; files carrying lazy per-file renames
 * are read per rename group ([[RenameGroups]]), matching the reference's
 * transparent rename semantics, and keep every file-pruning layer. SQL
 * INSERT appends through the transactional manifest commit
 * ([[GraftV1Writable]]); DDL and namespace/table mutation stay API-only so
 * manifests remain authoritative.
 */
class GraftSqlCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  /** Storage-partitioned joins resolve a scan's `bucket(n, keys…)`
    * transform through here; nothing else is a catalog function. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, GraftBucketFunction.name()))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == GraftBucketFunction.name()) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.root must point at the graft root dir"))
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier) =
    Paths.get((root +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  /** DDL isolation: a `.pending` marker means an uncommitted transaction
    * created the table — invisible here exactly as through the API
    * (`Transaction.visibleTable`) until its commit removes the marker. */
  private def committed(tdir: java.nio.file.Path): Boolean =
    Files.isDirectory(tdir.resolve("_manifest")) &&
      !Files.exists(tdir.resolve("_manifest").resolve(".pending"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get((root +: namespace.toSeq).mkString("/"))
    if (!Files.isDirectory(dir)) return Array.empty
    graft.api.Table.listDir(dir)
      .filter(committed)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    committed(tableDir(ident))

  // --- SupportsNamespaces (read-only): buckets are top-level namespaces,
  //     nested schema dirs (".graft_schema"-marked) are sub-namespaces ---

  private def nsDir(namespace: Array[String]) =
    Paths.get((root +: namespace.toSeq).mkString("/"))

  override def listNamespaces(): Array[Array[String]] =
    graft.api.Table.listDir(Paths.get(root))
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
      .map(p => Array(p.getFileName.toString))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) Array.empty
    else graft.api.Table.listDir(dir)
      .filter(p => Files.exists(p.resolve(".graft_schema")))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length match {
      case 0 => true
      case 1 => Files.isDirectory(nsDir(namespace)) // bucket
      case _ => Files.exists(nsDir(namespace).resolve(".graft_schema"))
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "writes go through the transactional graft API (createBucket/createSchema)")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("use the transactional graft API")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("use the transactional graft API")

  override def loadTable(ident: Identifier): Table = {
    // existence FIRST: the DSv2 contract is NoSuchTableException for a
    // missing table — relation resolution probes candidate interpretations
    // (e.g. other registered catalogs) and must be able to move on; a raw
    // NoSuchFileException from the version probe aborts analysis instead
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    loadAt(ident, graft.api.Table.currentVersion(tableDir(ident)), writable = true)
  }

  /** SQL time travel: `VERSION AS OF n` resolves manifest v{n} — every
    * retained manifest version is addressable (snapshots are named aliases
    * over the same mechanism). Historical versions are read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft versions are manifest numbers, got '$version'")
    }
    loadAt(ident, v, writable = false)
  }

  /** `TIMESTAMP AS OF t`: the newest manifest version whose commit stamp is
    * ≤ t (manifests record `commitMicros` at the commit CAS; the reference's
    * snapshot-by-name reads are the same resolve-then-read,
    * vastdb/bucket.py:43-70). Walks versions newest-first and stops at the
    * first old-enough commit — O(versions-newer-than-t) manifest reads, not
    * O(history). Pre-feature manifests (stamp 0) match any timestamp. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val dir = tableDir(ident)
    val cur = graft.api.Table.currentVersion(dir)
    val v = (cur to 0L by -1).find { n =>
      val p = dir.resolve("_manifest").resolve(f"v$n%08d.json")
      Files.exists(p) && Manifest.read(p).commitMicros <= timestamp
    }.getOrElse(throw new IllegalArgumentException(
      s"no version of $ident committed at or before " +
        java.time.Instant.ofEpochMilli(timestamp / 1000L)))
    loadAt(ident, v, writable = false)
  }

  private def loadAt(ident: Identifier, version: Long, writable: Boolean): Table = {
    val dir = tableDir(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val mPath = dir.resolve("_manifest").resolve(f"v$version%08d.json")
    if (!Files.exists(mPath))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val m = Manifest.read(mPath)
    val schema = StructType(m.schema.fields :+
      StructField("_row_id", LongType, nullable = false))
    // manifests store table-dir-relative data paths (so staged renames can
    // move the dir atomically); Table.resolvePath is the shared resolver —
    // it also redirects snapshot manifest trees to the original data dirs
    // fresh ROLLUPS ride along for AggProjectionRewrite — registered here
    // (idempotent) so any session that can see a rollup also carries the
    // rule that routes to it. A rollup rebuilt after a rename is
    // rename-free, so rename-evolved tables route covered aggregates too.
    val rollups = m.aggProjections.filterNot(_.stale).map(p =>
      (p, graft.api.Table.resolvePath(dir, p.dir)))
    if (rollups.nonEmpty)
      org.apache.spark.sql.SparkSession.getActiveSession
        .foreach(AggProjectionRewrite.register)
    // the zone-map table prunes whole FILES from pushed filters before
    // parquet ever opens them, reads rename-evolved files per rename group,
    // and routes scans a fresh projection covers to it (like the picker in
    // Table.select)
    if (writable)
      new ZoneMapTable(ident.toString, schema, dir, m, rollups)
        with GraftV1Writable with GraftTableProps {
          val writeRoot = root; val writeIdent = ident; val tableProps = m.props }
    else new ZoneMapTable(ident.toString, schema, dir, m, rollups)
      with GraftTableProps { val tableProps = m.props }
  }

  /** SQL CREATE TABLE / CTAS through the transactional API. Returns a table
    * whose visible schema is the LOGICAL one (no `_row_id` yet): CTAS
    * appends by position against the returned object, and its data has no
    * row-id column — the transactional insert allocates ids. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (bucket(n, keys…))` declares the hash-bucket layout
    // at CREATE — data written later is brought into it by
    // `CALL graft.system.bucket` / `Table.optimizeBuckets` (or `maintain`)
    val bucketSpec: Option[(Int, Seq[String])] = partitions.toSeq match {
      case Nil => None
      case Seq(t) if t.name == "bucket" =>
        val (lits, refs) = t.arguments.toSeq.partition(
          _.isInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]])
        (lits, refs) match {
          case (Seq(n: org.apache.spark.sql.connector.expressions.Literal[_]),
                cols) if cols.nonEmpty =>
            Some((n.value.asInstanceOf[Number].intValue(),
              cols.map(_.describe.stripPrefix("`").stripSuffix("`"))))
          case _ => throw new UnsupportedOperationException(
            s"unsupported bucket transform ${t.describe}")
        }
      case _ => throw new UnsupportedOperationException(
        "only PARTITIONED BY (bucket(n, cols…)) is supported: other layout " +
          "is manifest-managed (sorting keys, z-order clustering)")
    }
    // CTAS from another graft table carries `_row_id` — strip it; the new
    // table allocates its own ids
    val logical = StructType(schema.fields.filterNot(_.name == "_row_id"))
    // TBLPROPERTIES land in the manifest; Spark's bookkeeping keys
    // (provider/location/owner/…) are engine metadata, not table props
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val userProps = properties.asScala.toMap
      .filter { case (k, _) => !reserved(k) && !k.startsWith("option.") }
    val ns = ident.namespace()
    inSession { tx =>
      val t = tx.bucket(ns.head).schema(ns.tail.mkString("/"))
        .createTable(ident.name(), logical)
      if (userProps.nonEmpty) t.setProperties(userProps)
      bucketSpec.foreach { case (n, keys) => t.addBucketLayout(n, keys) }
    }
    val parquet = ParquetTable(ident.toString, SparkSession.active,
      CaseInsensitiveStringMap.empty(), Nil, Some(logical),
      classOf[ParquetFileFormat])
    new ReadOnlyTable(parquet)
      with GraftV1Writable { val writeRoot = root; val writeIdent = ident }
  }

  /** SQL `ALTER TABLE ... ADD/RENAME/DROP COLUMN` mapped onto the
    * transactional column-evolution API (the reference's first-class column
    * DDL verbs, vastdb/table.py:1010-1038): ADD stages a null-filled logical
    * column, RENAME installs lazy per-file rename maps (no data rewrite),
    * DROP tombstones the physical column. All changes of one statement land
    * in ONE transaction — a concurrent commit conflicts atomically, never
    * half-applies. Top-level columns only: nested-field evolution stays
    * API-side (manifest schemas are whole-column typed, like the reference's
    * flat column DDL). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    def topLevel(fieldNames: Array[String]): String = {
      if (fieldNames.length != 1) throw new UnsupportedOperationException(
        s"nested column DDL (${fieldNames.mkString(".")}): use the graft API")
      // `_row_id` is synthesized into the SQL-visible schema (so Spark's
      // analyzer would resolve DDL against it) but is not a manifest column
      if (fieldNames.head == "_row_id") throw new UnsupportedOperationException(
        "_row_id is the engine-managed row address, not an evolvable column")
      fieldNames.head
    }
    val ns = ident.namespace()
    inSession { tx =>
      val t = tx.bucket(ns.head).schema(ns.tail.mkString("/")).table(ident.name())
      changes.foreach {
        case add: TableChange.AddColumn =>
          // a requested position (FIRST / AFTER c) would be silently ignored
          // — manifests append columns; reject rather than half-obey
          if (add.position() != null) throw new UnsupportedOperationException(
            "ADD COLUMN ... FIRST/AFTER: graft appends columns (file schemas " +
              "are positional per generation); add without a position")
          val f = StructField(topLevel(add.fieldNames()), add.dataType(),
            add.isNullable())
          t.addColumn(Option(add.comment()).map(f.withComment).getOrElse(f))
        case ren: TableChange.RenameColumn =>
          t.renameColumn(topLevel(ren.fieldNames()), ren.newName())
        case del: TableChange.DeleteColumn =>
          t.dropColumn(topLevel(del.fieldNames()))
        case set: TableChange.SetProperty =>
          t.setProperties(Map(set.property() -> set.value()))
        case rm: TableChange.RemoveProperty =>
          t.unsetProperties(Seq(rm.property()))
        case other => throw new UnsupportedOperationException(
          s"ALTER TABLE change ${other.getClass.getSimpleName}: " +
            "only ADD/RENAME/DROP COLUMN and SET/UNSET TBLPROPERTIES " +
            "are supported")
      }
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else {
      val ns = ident.namespace()
      inSession { tx =>
        tx.bucket(ns.head).schema(ns.tail.mkString("/")).table(ident.name()).drop()
      }
      true
    }

  override def renameTable(old: Identifier, next: Identifier): Unit = {
    // the TO identifier may arrive bare ("c2"), same-namespace, or still
    // carrying this catalog's name as a namespace prefix — all mean
    // "same schema, new name"; anything else is a cross-schema move
    val nextNs = next.namespace().toSeq
    val sameNs = nextNs.isEmpty || nextNs == old.namespace().toSeq ||
      nextNs == (catalogName +: old.namespace().toSeq)
    if (!sameNs)
      throw new UnsupportedOperationException(
        "rename across namespaces: move schemas through the graft API")
    val ns = old.namespace()
    inSession { tx =>
      tx.bucket(ns.head).schema(ns.tail.mkString("/")).table(old.name())
        .renameTable(next.name())
    }
  }

  private def inSession[T](body: graft.api.Transaction => T): T =
    graft.api.VastSession(SparkSession.active, root).transaction(body)

  // --- stored procedures: maintenance + curation verbs for SQL-first users ---
  //     CALL graft.system.history('bk.m.t')
  //     CALL graft.system.maintain('bk.m.t')
  //     CALL graft.system.vacuum_versions('bk.m.t', 7, 3600000)
  //     CALL graft.system.zorder('bk.m.t', 'x,y')
  //     CALL graft.system.vector_search('bk.m.emb', 'embedding', '0.1,0.2', 10)
  //     CALL graft.system.dedup_pairs('bk.m.docs', 'id', 'text', 'bk.m.pairs', 0.7)
  //     CALL graft.system.dedup_clusters('bk.m.docs', 'id', 'text', 'bk.m.cc', 0.7)
  //     CALL graft.system.pii_redact('bk.m.docs', 'bk.m.clean', 'text')
  //     CALL graft.system.chunk('bk.m.docs', 'id', 'text', 'bk.m.chunks', 512, 512)
  //     CALL graft.system.decontaminate('bk.m.docs', 'id', 'text', 'bk.m.bench', 'text', 'bk.m.kept')
  // Curation verbs WRITE their (data-scale) result into an output graft
  // table and return a one-row summary: a CALL result is a driver-local
  // row set, so routing the payload through a table keeps the pipeline
  // distributed at corpus scale — and composable (the output is immediately
  // queryable / streamable like any other table).

  import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
  import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StringType, TimestampType}

  /** Split `bucket.schema.table` on dots, honoring backtick quoting so a
    * part may itself contain dots (`` bk.m.`ta.ble` ``); doubled backticks
    * escape a literal backtick, as in Spark SQL identifiers. */
  private[graftglue] def parseQualified(q: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (inQuote) {
        if (c == '`') {
          if (i + 1 < q.length && q.charAt(i + 1) == '`') { cur.append('`'); i += 1 }
          else inQuote = false
        } else cur.append(c)
      } else c match {
        case '`' => inQuote = true
        case '.' => parts += cur.result(); cur.clear()
        case o => cur.append(o)
      }
      i += 1
    }
    if (inQuote) throw new IllegalArgumentException(
      s"unbalanced backtick in table name '$q'")
    parts += cur.result()
    parts.result()
  }

  private def tableIn(tx: graft.api.Transaction, qualified: String): graft.api.Table = {
    val parts = parseQualified(qualified)
    if (parts.length < 3) throw new IllegalArgumentException(
      s"table must be qualified bucket.schema.table, got '$qualified'")
    tx.bucket(parts.head)
      .schema(parts.slice(1, parts.length - 1).mkString("/"))
      .table(parts.last)
  }

  /** `bucket.schema.table` (nested schemas: `bucket.s1.s2.table`). */
  private def withTable[T](qualified: String)(body: graft.api.Table => T): T =
    inSession(tx => body(tableIn(tx, qualified)))

  /** Create-or-replace `qualified` with the result of `df` inside the
    * current transaction; returns rows written. The write is the
    * distributed insert path — the CALL's own result stays a summary row.
    * A re-run OVERWRITES the existing output in place (same transactional
    * step as SQL INSERT OVERWRITE); an existing table with a DIFFERENT
    * schema is refused rather than silently replaced — it isn't this
    * procedure's output. */
  private def replaceOutput(tx: graft.api.Transaction, qualified: String,
                            df: org.apache.spark.sql.DataFrame): Long = {
    val parts = parseQualified(qualified)
    if (parts.length < 3) throw new IllegalArgumentException(
      s"output table must be qualified bucket.schema.table, got '$qualified'")
    val sch = tx.bucket(parts.head)
      .schema(parts.slice(1, parts.length - 1).mkString("/"))
    // insert/overwrite return the allocated row-id range [start, end) — the
    // row COUNT is the difference (on a reused output table start sits at
    // the prior high-water mark, so `end` alone would overcount)
    val (start, end) =
      if (sch.tables.contains(parts.last)) {
        val t = sch.table(parts.last)
        def shape(s: StructType) = s.fields
          .filterNot(_.name == "_row_id").map(f => (f.name, f.dataType)).toSeq
        if (shape(t.manifest.schema) != shape(df.schema))
          throw new IllegalArgumentException(
            s"output table '$qualified' exists with a different schema — " +
              "DROP it or pick another name")
        t.overwrite(df)
      } else sch.createTable(parts.last, df.schema).insert(df)
    end - start
  }

  private val procedureNames = Array("history", "maintain", "vacuum_versions",
    "zorder", "bucket_layout", "agg_projection", "vector_search",
    "text_search", "pq_search", "hybrid_search", "stream_lag",
    "dedup_pairs", "dedup_clusters", "pii_redact", "chunk", "decontaminate",
    "curate", "shard_export", "domain_mix", "line_dedup", "classifier_score",
    "classifier_fit", "contamination_report", "softmax_fit", "softmax_score",
    "bpe_fit", "tokenize_pack", "corpus_report", "dedup_probe", "epoch_mix",
    "dsir_select", "keep_best", "weighted_sample", "dsir_fit", "dsir_score",
    "gopher_filter", "c4_filter", "span_dedup", "ccnet_bucket",
    "url_filter", "badword_filter", "span_stats", "span_probe",
    "sample_per_domain", "regex_filter", "detokenize")

  /** Manifest version a streaming checkpoint has durably consumed through,
    * or -1 if no batch has committed yet. Reads Spark's own checkpoint
    * logs: the newest entry in `commits/` names the last COMPLETED batch;
    * its `offsets/<id>` file records the END offset that batch processed —
    * for a graft source, the manifest version number. (Offset-log format:
    * line 1 the log version tag, line 2 stream metadata, then one offset
    * per source; a single-graft-source query is assumed, so the last
    * integer-parseable line is the graft offset.) */
  private[graftglue] def checkpointConsumedVersion(ckpt: String): Long = {
    val base = java.nio.file.Paths.get(ckpt)
    def ids(d: java.nio.file.Path): Seq[Long] =
      if (!Files.isDirectory(d)) Nil
      else {
        val s = Files.list(d)
        try s.iterator().asScala
          .map(_.getFileName.toString).filter(_.matches("\\d+"))
          .map(_.toLong).toSeq
        finally s.close()
      }
    val committed = ids(base.resolve("commits"))
    if (committed.isEmpty) return -1L
    val off = base.resolve("offsets").resolve(committed.max.toString)
    if (!Files.exists(off)) return -1L
    Files.readAllLines(off).asScala.toSeq
      .drop(2) // "v1" tag + stream metadata JSON
      .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
      .lastOption.getOrElse(-1L)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedureNames.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    def bad() = throw new IllegalArgumentException(
      s"unknown procedure $ident; see CALL $catalogName.system.<${procedureNames.mkString("|")}>")
    if (!ident.namespace().sameElements(Array("system"))) bad()
    ident.name() match {
      case "history" => new GraftProcedure("history",
          Seq(("table", StringType, None)),
          StructType(Seq(StructField("version", LongType),
            StructField("commit_ts", TimestampType),
            StructField("n_files", IntegerType),
            StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = {
          var out: Seq[org.apache.spark.sql.Row] = Nil
          withTable(args.head.asInstanceOf[String])(t =>
            out = t.history().collect().toSeq)
          out
        }
      }
      case "maintain" => new GraftProcedure("maintain",
          Seq(("table", StringType, None)),
          StructType(Seq(StructField("n_files", IntegerType),
            StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            t.maintain()
            Seq(org.apache.spark.sql.Row(
              t.manifest.files.size, t.manifest.totalRows))
          }
      }
      case "zorder" => new GraftProcedure("zorder",
          Seq(("table", StringType, None),
            ("columns", StringType, None), // comma-separated clustering keys
            ("target_file_rows", LongType, Some("4000000"))),
          StructType(Seq(StructField("n_files", IntegerType),
            StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val keys = args(1).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
            val target = args(2).asInstanceOf[Long]
            if (target <= 0) throw new IllegalArgumentException(
              s"target_file_rows must be positive, got $target")
            // idempotent re-CALL: keep the declared keys unless they changed
            if (t.manifest.clusteringKeys != keys) t.addClusteringKeys(keys)
            t.optimizeZorder(target)
            Seq(org.apache.spark.sql.Row(
              t.manifest.files.size, t.manifest.totalRows))
          }
      }
      // declare + rewrite the hash-bucket layout that storage-partitioned
      // joins key on: after this CALL on two tables with the same count and
      // compatible keys, a join between them plans with ZERO shuffle
      case "bucket_layout" => new GraftProcedure("bucket_layout",
          Seq(("table", StringType, None),
            ("buckets", IntegerType, None),
            ("columns", StringType, None), // comma-separated bucket keys
            ("target_file_rows", LongType, Some("4000000"))),
          StructType(Seq(StructField("n_files", IntegerType),
            StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val n = args(1).asInstanceOf[Int]
            val keys = args(2).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
            val target = args(3).asInstanceOf[Long]
            if (target <= 0) throw new IllegalArgumentException(
              s"target_file_rows must be positive, got $target")
            // idempotent re-CALL: keep the declared layout unless it changed
            if (t.manifest.bucketKeys != keys || t.manifest.bucketCount != n)
              t.addBucketLayout(n, keys)
            t.optimizeBuckets(target)
            Seq(org.apache.spark.sql.Row(
              t.manifest.files.size, t.manifest.totalRows))
          }
      }
      // materialized rollup DDL: after this CALL, covered GROUP BY queries
      // through the catalog are answered from the rollup (AggProjectionRewrite)
      case "agg_projection" => new GraftProcedure("agg_projection",
          Seq(("table", StringType, None),
            ("name", StringType, None),
            ("group_columns", StringType, None),   // comma-separated dims
            ("measure_columns", StringType, None), // comma-separated measures
            ("op", StringType, Some("'create'"))), // create | refresh | drop
          StructType(Seq(StructField("rollups", IntegerType),
            StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val pname = args(1).asInstanceOf[String]
            def csv(i: Int) = args(i).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
            args(4).asInstanceOf[String] match {
              case "create" => t.createAggProjection(pname, csv(2), csv(3))
              case "refresh" => t.refreshAggProjection(pname)
              case "drop" => t.dropAggProjection(pname)
              case other => throw new IllegalArgumentException(
                s"op must be create|refresh|drop, got $other")
            }
            Seq(org.apache.spark.sql.Row(
              t.manifest.aggProjections.size, t.manifest.totalRows))
          }
      }
      // the operational question every incremental pipeline asks at 100 TB:
      // is my changefeed keeping up? Answered from manifests + the stream's
      // own checkpoint logs — no data I/O, no stream interruption.
      case "stream_lag" => new GraftProcedure("stream_lag",
          Seq(("table", StringType, None),
            ("checkpoint", StringType, None)), // the stream's checkpointLocation
          StructType(Seq(StructField("consumed_version", LongType),
            StructField("current_version", LongType),
            StructField("versions_behind", LongType),
            StructField("rows_behind", LongType),
            StructField("bytes_behind", LongType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val consumed = checkpointConsumedVersion(args(1).asInstanceOf[String])
            val (cur, vb, rb, bb) = t.streamLag(consumed)
            Seq(org.apache.spark.sql.Row(consumed, cur, vb, rb, bb))
          }
      }
      case "vacuum_versions" => new GraftProcedure("vacuum_versions",
          Seq(("table", StringType, None),
            ("keep_last", IntegerType, Some("7")),
            ("min_age_ms", LongType, Some("3600000"))),
          StructType(Seq(StructField("data_files_deleted", IntegerType),
            StructField("manifests_deleted", IntegerType),
            StructField("projection_files_deleted", IntegerType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val (f, m, p) = t.vacuumVersions(args(1).asInstanceOf[Int],
              args(2).asInstanceOf[Long])
            Seq(org.apache.spark.sql.Row(f, m, p))
          }
      }
      // the reference's own vector workflow is SQL-over-ADBC
      // (/root/reference/vastdb/_adbc.py:133-159); this is the engine's SQL
      // door to the same search: IVF-routed when an index is fresh, exact
      // brute force otherwise. Returns (_row_id, _distance) — a BOUNDED k
      // rows, so a CALL result is safe — join back on _row_id for payload
      // columns, which the row-id-range file pruning serves in ~k files.
      case "vector_search" => new GraftProcedure("vector_search",
          Seq(("table", StringType, None), ("column", StringType, None),
            ("query_vector", StringType, None), // comma-separated floats
            ("k", IntegerType, Some("10")),
            ("where", StringType, Some("true")), // SQL predicate over the table
            ("nprobe", IntegerType, Some("4"))),
          StructType(Seq(StructField("_row_id", LongType),
            StructField("_distance", DoubleType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val vec = args(2).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty).map(_.toFloat)
            val k = args(3).asInstanceOf[Int]
            if (k <= 0) throw new IllegalArgumentException(
              s"k must be positive, got $k")
            val nprobe = args(5).asInstanceOf[Int]
            if (nprobe <= 0) throw new IllegalArgumentException(
              s"nprobe must be positive, got $nprobe") // 0 would silently
              // probe no cells and return an empty result
            t.vectorSearchIds(args(1).asInstanceOf[String], vec, k,
                org.apache.spark.sql.functions.expr(args(4).asInstanceOf[String]),
                nprobe)
              .select(org.apache.spark.sql.functions.col("_row_id"),
                org.apache.spark.sql.functions.col("_distance")
                  .cast(DoubleType).as("_distance"))
              .collect().toSeq
          }
      }
      case "hybrid_search" => new GraftProcedure("hybrid_search",
          Seq(("table", StringType, None),
            ("text_column", StringType, None),
            ("vector_column", StringType, None),
            ("terms", StringType, None),        // comma-separated tokens
            ("query_vector", StringType, None), // comma-separated floats
            ("k", IntegerType, Some("10"))),
          StructType(Seq(StructField("_row_id", LongType),
            StructField("rrf_score", DoubleType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val terms = args(3).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
            val vec = args(4).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty).map(_.toFloat)
            val k = args(5).asInstanceOf[Int]
            if (terms.isEmpty || vec.isEmpty || k <= 0)
              throw new IllegalArgumentException(
                "hybrid_search needs non-empty terms, a query vector, and k > 0")
            val docs = t.select(
              Seq(args(1).asInstanceOf[String], args(2).asInstanceOf[String]),
              internalRowId = true)
            graft.llm.Search.hybridSearch(docs, "_row_id",
                args(1).asInstanceOf[String], args(2).asInstanceOf[String],
                terms, vec, k)
              .select(org.apache.spark.sql.functions.col("id").as("_row_id"),
                org.apache.spark.sql.functions.col("rrf_score"))
              .collect().toSeq // k-bounded
          }
      }
      case "pq_search" => new GraftProcedure("pq_search",
          Seq(("table", StringType, None), ("column", StringType, None),
            ("query_vector", StringType, None), // comma-separated floats
            ("k", IntegerType, Some("10")),
            ("shortlist", IntegerType, Some("64"))),
          StructType(Seq(StructField("_row_id", LongType),
            StructField("knn_rank", IntegerType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val vec = args(2).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty).map(_.toFloat)
            val k = args(3).asInstanceOf[Int]
            val shortlist = args(4).asInstanceOf[Int]
            if (k <= 0 || shortlist < k) throw new IllegalArgumentException(
              s"need 0 < k <= shortlist, got k=$k shortlist=$shortlist")
            t.vectorSearchPq(args(1).asInstanceOf[String], vec, k, shortlist)
              .collect().toSeq // k-bounded: distributed top-k already ran
          }
      }
      case "text_search" => new GraftProcedure("text_search",
          Seq(("table", StringType, None), ("column", StringType, None),
            ("terms", StringType, None), // comma-separated query terms
            ("k", IntegerType, Some("10"))),
          StructType(Seq(StructField("_row_id", LongType),
            StructField("bm25", DoubleType)))) {
        def run(args: Seq[Any]) =
          withTable(args.head.asInstanceOf[String]) { t =>
            val terms = args(2).asInstanceOf[String].split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
            val k = args(3).asInstanceOf[Int]
            if (terms.isEmpty) throw new IllegalArgumentException(
              "terms must contain at least one token")
            if (k <= 0) throw new IllegalArgumentException(
              s"k must be positive, got $k")
            // k-bounded collect: the distributed top-k has already run
            t.textSearch(args(1).asInstanceOf[String], terms, k)
              .collect().toSeq
          }
      }
      case "dedup_pairs" => new GraftProcedure("dedup_pairs",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("threshold", DoubleType, Some("0.7"))),
          StructType(Seq(StructField("n_pairs", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val pairs = graft.llm.Dedup.minhashPairs(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            threshold = args(4).asInstanceOf[Double])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], pairs)))
        }
      }
      case "dedup_clusters" => new GraftProcedure("dedup_clusters",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("threshold", DoubleType, Some("0.7"))),
          StructType(Seq(StructField("n_nodes", LongType),
            StructField("n_clusters", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val cc = graft.llm.Dedup.connectedComponents(
            graft.llm.Dedup.minhashPairs(
              tableIn(tx, args(0).asInstanceOf[String]).select(),
              args(1).asInstanceOf[String], args(2).asInstanceOf[String],
              threshold = args(4).asInstanceOf[Double]))
          val n = replaceOutput(tx, args(3).asInstanceOf[String], cc)
          // summary only — one tiny agg over the (bounded) cluster map
          val k = tableIn(tx, args(3).asInstanceOf[String]).select()
            .agg(org.apache.spark.sql.functions.count_distinct(
              org.apache.spark.sql.functions.col("component")))
            .head().getLong(0)
          Seq(org.apache.spark.sql.Row(n, k))
        }
      }
      case "pii_redact" => new GraftProcedure("pii_redact",
          Seq(("table", StringType, None),
            ("out_table", StringType, None),
            ("text_col", StringType, Some("'text'"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val redacted = graft.llm.Pii.redact(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(1).asInstanceOf[String], redacted)))
        }
      }
      case "chunk" => new GraftProcedure("chunk",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("chunk_tokens", IntegerType, Some("512")),
            ("stride", IntegerType, Some("512"))),
          StructType(Seq(StructField("n_chunks", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val chunks = graft.llm.Curation.chunkByTokens(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(4).asInstanceOf[Int], args(5).asInstanceOf[Int])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], chunks)))
        }
      }
      // dedup_lines turns on corpus-wide keep-first line dedup; a
      // non-empty model_table gates on a persisted classifier's score
      // (CALL classifier_fit's output) — the two round-11 optional stages.
      // persist_stages=true is the corpus-scale mode: stage boundaries
      // land in DURABLE catalog tables `{out}_stage_{name}` next to the
      // output (survive executor loss, independently queryable and
      // time-travelable; row accounting from the insert itself) instead of
      // executor-local checkpoints.
      case "curate" => new GraftProcedure("curate",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("bench_table", StringType, None),
            ("bench_text_col", StringType, None),
            ("out_table", StringType, None),
            ("min_quality", DoubleType, Some("0.3")),
            ("near_dup_threshold", DoubleType, Some("0.7")),
            ("dedup_lines", BooleanType, Some("false")),
            ("model_table", StringType, Some("''")),
            ("min_model_score", DoubleType, Some("0.5")),
            ("persist_stages", BooleanType, Some("false")),
            ("gopher_rules", BooleanType, Some("false")),
            ("c4_clean", BooleanType, Some("false")),
            ("c4_min_lines", IntegerType, Some("5")),
            ("span_dedup_tokens", IntegerType, Some("0"))),
          StructType(Seq(StructField("n_input", LongType),
            StructField("n_after_quality", LongType),
            StructField("n_after_exact", LongType),
            StructField("n_after_near", LongType),
            StructField("n_kept", LongType),
            StructField("n_after_line_dedup", LongType),
            StructField("n_after_model_gate", LongType),
            StructField("n_after_gopher", LongType),
            StructField("n_after_c4", LongType),
            StructField("n_after_span_dedup", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val modelTable = args(9).asInstanceOf[String]
          val model =
            if (modelTable == null || modelTable.isEmpty) None
            else Some(graft.llm.Classifier.modelFromDf(
              tableIn(tx, modelTable).select()))
          val outName = args(5).asInstanceOf[String]
          val store: graft.llm.Curation.StageStore =
            if (!args(11).asInstanceOf[Boolean])
              graft.llm.Curation.LocalCheckpointStore
            else {
              val parts = parseQualified(outName)
              if (parts.length < 3) throw new IllegalArgumentException(
                s"output table must be qualified bucket.schema.table, got '$outName'")
              new graft.api.CatalogStageStore(
                tx.bucket(parts.head)
                  .schema(parts.slice(1, parts.length - 1).mkString("/")),
                parts.last)
            }
          val (clean, rep) = graft.llm.Curation.curateCorpus(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            tableIn(tx, args(3).asInstanceOf[String]).select(),
            args(4).asInstanceOf[String],
            minQuality = args(6).asInstanceOf[Double],
            nearDupThreshold = args(7).asInstanceOf[Double],
            dedupLines = args(8).asInstanceOf[Boolean],
            qualityModel = model,
            minModelScore = args(10).asInstanceOf[Double],
            gopherRules = args(12).asInstanceOf[Boolean],
            c4Clean = args(13).asInstanceOf[Boolean],
            c4MinLines = args(14).asInstanceOf[Int],
            spanDedupTokens = args(15).asInstanceOf[Int],
            stageStore = store)
          replaceOutput(tx, outName, clean)
          Seq(org.apache.spark.sql.Row(rep.input, rep.afterQuality,
            rep.afterExactDedup, rep.afterNearDedup, rep.afterDecontaminate,
            rep.afterLineDedup, rep.afterClassifier, rep.afterGopher,
            rep.afterC4, rep.afterSpanDedup))
        }
      }
      case "decontaminate" => new GraftProcedure("decontaminate",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("bench_table", StringType, None),
            ("bench_text_col", StringType, None),
            ("out_table", StringType, None)),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val kept = graft.llm.Curation.decontaminate(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            tableIn(tx, args(3).asInstanceOf[String]).select(),
            args(4).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(5).asInstanceOf[String], kept)))
        }
      }
      case "contamination_report" => new GraftProcedure("contamination_report",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("bench_table", StringType, None),
            ("bench_id_col", StringType, None),
            ("bench_text_col", StringType, None),
            ("out_table", StringType, None),
            ("ngram", IntegerType, Some("8")),
            ("min_shared", IntegerType, Some("1"))),
          StructType(Seq(StructField("n_pairs", LongType),
            StructField("n_contaminated_docs", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val report = graft.llm.Curation.contaminationReport(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            tableIn(tx, args(3).asInstanceOf[String]).select(),
            args(4).asInstanceOf[String], args(5).asInstanceOf[String],
            args(7).asInstanceOf[Int], args(8).asInstanceOf[Int])
          val n = replaceOutput(tx, args(6).asInstanceOf[String], report)
          val docs = tableIn(tx, args(6).asInstanceOf[String]).select()
            .select(args(1).asInstanceOf[String]).distinct().count()
          Seq(org.apache.spark.sql.Row(n, docs))
        }
      }
      case "shard_export" => new GraftProcedure("shard_export",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("num_shards", IntegerType, None), ("seed", StringType, None),
            ("out_table", StringType, None)),
          StructType(Seq(StructField("n_rows", LongType),
            StructField("n_shards", IntegerType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val n = args(2).asInstanceOf[Int]
          val sharded = graft.llm.Curation.shardForTraining(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], n, args(3).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], sharded), n))
        }
      }
      case "domain_mix" => new GraftProcedure("domain_mix",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("domain_col", StringType, None),
            ("target_rows", LongType, None), ("seed", StringType, None),
            ("out_table", StringType, None)),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val mixed = graft.llm.Curation.domainMix(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(3).asInstanceOf[Long], args(4).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(5).asInstanceOf[String], mixed)))
        }
      }
      // epoch-aware domain mixing (the data-recipe "small domain x N
      // epochs" move): rows land in `out_table` with a 0-based `epoch`
      // column — full-corpus copies plus one md5-ordered partial epoch
      // per domain, all quotas in exact BIGINT arithmetic
      case "epoch_mix" => new GraftProcedure("epoch_mix",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("domain_col", StringType, None),
            ("weight_col", StringType, None),
            ("target_tokens", LongType, None),
            ("seed", StringType, None),
            ("out_table", StringType, None),
            ("max_epochs", IntegerType, Some("4"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val mixed = graft.llm.Curation.domainMixEpochs(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(3).asInstanceOf[String], args(4).asInstanceOf[Long],
            args(7).asInstanceOf[Int], args(5).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(6).asInstanceOf[String], mixed)))
        }
      }
      // ingest-time dedup probe as SQL: which rows of `candidates` (by
      // `id_col`) near-duplicate an already-ingested row of `table`,
      // via the persisted text dedup index on `column` — matches land in
      // `out_table` as (q_id, corpus_row_id, similarity) attribution rows
      case "dedup_probe" => new GraftProcedure("dedup_probe",
          Seq(("table", StringType, None), ("column", StringType, None),
            ("candidates", StringType, None), ("id_col", StringType, None),
            ("out_table", StringType, None),
            ("threshold", DoubleType, Some("0.7"))),
          StructType(Seq(StructField("n_matches", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val hits = tableIn(tx, args(0).asInstanceOf[String]).probeNearDups(
            args(1).asInstanceOf[String],
            tableIn(tx, args(2).asInstanceOf[String]).select(),
            args(3).asInstanceOf[String],
            args(5).asInstanceOf[Double])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], hits)))
        }
      }
      // exact-substring ingest probe: per-candidate covered-token
      // accounting against `table`'s persisted SPAN index — (id, n_tokens,
      // dup_tokens, dup_frac) rows land in `out_table`
      case "span_probe" => new GraftProcedure("span_probe",
          Seq(("table", StringType, None), ("column", StringType, None),
            ("candidates", StringType, None), ("id_col", StringType, None),
            ("out_table", StringType, None)),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val stats = tableIn(tx, args(0).asInstanceOf[String]).probeDupSpans(
            args(1).asInstanceOf[String],
            tableIn(tx, args(2).asInstanceOf[String]).select(),
            args(3).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], stats)))
        }
      }
      // dataset-card report: per-source breakdown rows (counts, corpus
      // token share, token-length envelope, exact quality quartiles —
      // TextAnalysis.corpusReportBySource) land in `out_table`; the
      // returned row is the corpus-wide totals (corpusReport) plus the
      // source count, so the release numbers and their breakdown come
      // from ONE call
      case "corpus_report" => new GraftProcedure("corpus_report",
          Seq(("table", StringType, None), ("text_col", StringType, None),
            ("out_table", StringType, None),
            ("source_col", StringType, Some("'source'"))),
          StructType(Seq(StructField("n_docs", LongType),
            StructField("total_tokens", LongType),
            StructField("total_chars", LongType),
            StructField("distinct_docs", LongType),
            StructField("max_doc_tokens", LongType),
            StructField("min_doc_tokens", LongType),
            StructField("n_sources", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val docs = tableIn(tx, args(0).asInstanceOf[String]).select()
          val textCol = args(1).asInstanceOf[String]
          val perSource = graft.llm.TextAnalysis.corpusReportBySource(
            docs, args(3).asInstanceOf[String], textCol)
          val n = replaceOutput(tx, args(2).asInstanceOf[String], perSource)
          val tot = graft.llm.TextAnalysis.corpusReport(docs, textCol).head()
          // empty corpus: sum/max/min aggregates are NULL — report zeros
          def lg(i: Int) = if (tot.isNullAt(i)) 0L else tot.getLong(i)
          Seq(org.apache.spark.sql.Row(lg(0), lg(1), lg(2), lg(3), lg(4),
            lg(5), n))
        }
      }
      case "line_dedup" => new GraftProcedure("line_dedup",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("min_chars", IntegerType, Some("5"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val deduped = graft.llm.Dedup.dedupLinesKeepFirst(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(4).asInstanceOf[Int])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], deduped)))
        }
      }
      // URL-domain blocklist gate (RefinedWeb/UT1 mechanism): drop rows
      // whose URL host equals or sits under any domain in
      // `blocklist_table`.`domain_col` (label-boundary suffix match);
      // survivors land in `out_table`
      case "url_filter" => new GraftProcedure("url_filter",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("url_col", StringType, None),
            ("blocklist_table", StringType, None),
            ("out_table", StringType, None),
            ("domain_col", StringType, Some("'domain'"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val kept = graft.llm.Curation.urlBlocklistFilter(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            tableIn(tx, args(3).asInstanceOf[String]).select(),
            args(5).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], kept)))
        }
      }
      // term blocklist gate (C4 bad-words mechanism): drop rows whose
      // text contains any `terms_table`.`term_col` entry as a
      // case-folded whitespace token; survivors land in `out_table`
      case "badword_filter" => new GraftProcedure("badword_filter",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("terms_table", StringType, None),
            ("out_table", StringType, None),
            ("term_col", StringType, Some("'term'"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val kept = graft.llm.Curation.termBlocklistFilter(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            tableIn(tx, args(3).asInstanceOf[String]).select(),
            args(5).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], kept)))
        }
      }
      // exact-substring span REMOVAL keep-first (Lee et al. ExactSubstr):
      // any `span_tokens`-token window occurring more than once in the
      // corpus survives only at its globally-first (id, position)
      // occurrence; the cut-and-reassembled documents land in `out_table`
      case "span_dedup" => new GraftProcedure("span_dedup",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("span_tokens", IntegerType, Some("50")),
            ("stride", IntegerType, Some("1"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val deduped = graft.llm.Dedup.dedupSpansKeepFirst(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(4).asInstanceOf[Int], args(5).asInstanceOf[Int])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], deduped)))
        }
      }
      // per-document span-duplication statistics (the measurement twin of
      // span_dedup): (id, n_tokens, dup_tokens, dup_frac) rows land in
      // `out_table`
      case "span_stats" => new GraftProcedure("span_stats",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("span_tokens", IntegerType, Some("50")),
            ("stride", IntegerType, Some("1"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val stats = graft.llm.Dedup.spanDuplicationStats(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(4).asInstanceOf[Int], args(5).asInstanceOf[Int])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], stats)))
        }
      }
      // CCNet perplexity bucketing (Wenzek et al. 2020): score `table`
      // against the bigram LM of `train_table` and split each `group_col`
      // group into head/middle/tail thirds by per-token negative
      // log-probability; scored rows (id, group, LM stats, bucket) land in
      // `out_table` — only the head+middle when `drop_tail` (the CCNet
      // pretraining selection). Docs under 2 tokens have no LM evidence
      // and are absent either way.
      case "ccnet_bucket" => new GraftProcedure("ccnet_bucket",
          Seq(("table", StringType, None), ("train_table", StringType, None),
            ("id_col", StringType, None), ("out_table", StringType, None),
            ("text_col", StringType, Some("'text'")),
            ("group_col", StringType, Some("''")),
            ("drop_tail", BooleanType, Some("false"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.col
          val grpS = args(5).asInstanceOf[String]
          val bucketed = graft.llm.TextAnalysis.ccnetBuckets(
            tableIn(tx, args(1).asInstanceOf[String]).select(),
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String], args(4).asInstanceOf[String],
            groupCol = if (grpS.isEmpty) None else Some(grpS))
          val out = if (args(6).asInstanceOf[Boolean])
            bucketed.filter(col("bucket") =!= "tail") else bucketed
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], out)))
        }
      }
      // DSIR data selection (Xie et al. 2023): score every row of `table`
      // by hashed-ngram importance against `target_table`'s distribution
      // and keep the top `k` — deterministically, or Gumbel-resampled when
      // `gumbel_seed` is non-empty (P(select) ∝ exp(weight), seeded and
      // reproducible). Selected documents (full rows + `dsir_logweight` +
      // `sel_rank`) land in `out_table`.
      case "dsir_select" => new GraftProcedure("dsir_select",
          Seq(("table", StringType, None), ("target_table", StringType, None),
            ("id_col", StringType, None), ("out_table", StringType, None),
            ("text_col", StringType, Some("'text'")),
            ("k", LongType, Some("1000")),
            ("buckets", IntegerType, Some("4096")),
            ("gumbel_seed", StringType, Some("''"))),
          StructType(Seq(StructField("n_selected", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.col
          val idCol = args(2).asInstanceOf[String]
          val raw = tableIn(tx, args(0).asInstanceOf[String]).select()
          val seedS = args(7).asInstanceOf[String]
          val sel = graft.llm.Selection.dsirSelect(raw,
            tableIn(tx, args(1).asInstanceOf[String]).select(),
            idCol, args(4).asInstanceOf[String],
            k = args(5).asInstanceOf[Long],
            buckets = args(6).asInstanceOf[Int],
            gumbelSeed = if (seedS.isEmpty) None else Some(seedS.toLong))
          val out = raw.join(
            sel.select(col(idCol), col("dsir_logweight"), col("sel_rank")),
            Seq(idCol))
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], out)))
        }
      }
      // keep-BEST-per-cluster dedup: minhash near-dup clusters over
      // `text_col`, but each cluster's survivor maximizes `score_col`
      // (default: text length; ties → smallest id) instead of being the
      // smallest id — the canonical-copy selection pass. Survivors (full
      // rows) land in `out_table`.
      case "keep_best" => new GraftProcedure("keep_best",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None),
            ("threshold", DoubleType, Some("0.7")),
            ("score_col", StringType, Some("''"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col, length}
          val df = tableIn(tx, args(0).asInstanceOf[String]).select()
          val textCol = args(2).asInstanceOf[String]
          val scoreS = args(5).asInstanceOf[String]
          val score = if (scoreS.isEmpty) length(col(textCol)) else col(scoreS)
          val pairs = graft.llm.Dedup.minhashPairs(df,
            args(1).asInstanceOf[String], textCol,
            threshold = args(4).asInstanceOf[Double])
          val kept = graft.llm.Dedup.keepBestInClusters(df,
            args(1).asInstanceOf[String], pairs, score)
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], kept)))
        }
      }
      // Gopher rule filter standalone: survivors (rows passing every
      // published rule) land in `out_table`
      case "gopher_filter" => new GraftProcedure("gopher_filter",
          Seq(("table", StringType, None), ("out_table", StringType, None),
            ("text_col", StringType, Some("'text'"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val kept = graft.llm.TextAnalysis.gopherFilter(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(1).asInstanceOf[String], kept)))
        }
      }
      // C4 cleaning standalone: page drops + line rewrite; survivors
      // (with rewritten text) land in `out_table`
      case "c4_filter" => new GraftProcedure("c4_filter",
          Seq(("table", StringType, None), ("out_table", StringType, None),
            ("text_col", StringType, Some("'text'")),
            ("min_lines", IntegerType, Some("5"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val kept = graft.llm.Curation.c4Filter(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String], args(3).asInstanceOf[Int])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(1).asInstanceOf[String], kept)))
        }
      }
      // fit the DSIR importance model (raw vs target gram distributions)
      // and PERSIST it: the model IS the dense (bucket, log_ratio) table —
      // `buckets` rows of DECIMAL(18,6) in `model_table`, reloadable by
      // CALL dsir_score and by the streaming sink's scoreWith option for
      // ingest-time data selection
      case "dsir_fit" => new GraftProcedure("dsir_fit",
          Seq(("table", StringType, None), ("target_table", StringType, None),
            ("text_col", StringType, None), ("model_table", StringType, None),
            ("buckets", IntegerType, Some("4096")),
            ("lambda", DoubleType, Some("1.0"))),
          StructType(Seq(StructField("n_buckets", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val model = graft.llm.Selection.dsirFit(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            tableIn(tx, args(1).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String], args(4).asInstanceOf[Int],
            args(5).asInstanceOf[Double])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], model)))
        }
      }
      // score every row of `table` against a persisted dsir_fit model —
      // map-side literal-LUT fold, no shuffle; rows + `dsir_logweight`
      // land in `out_table`
      case "dsir_score" => new GraftProcedure("dsir_score",
          Seq(("table", StringType, None), ("model_table", StringType, None),
            ("text_col", StringType, None), ("out_table", StringType, None)),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val scored = graft.llm.Selection.dsirScoreFromModel(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            tableIn(tx, args(1).asInstanceOf[String]).select(),
            args(2).asInstanceOf[String])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], scored)))
        }
      }
      // Efraimidis-Spirakis weighted sampling without replacement: k rows
      // of `table` with inclusion probability ∝ `weight_col` (NULL/≤0
      // weights are never drawn), seeded-reproducible; the sampled rows
      // (+ `sample_rank`) land in `out_table`
      case "weighted_sample" => new GraftProcedure("weighted_sample",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("weight_col", StringType, None), ("k", LongType, None),
            ("seed", LongType, None), ("out_table", StringType, None)),
          StructType(Seq(StructField("n_sampled", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.col
          val sampled = graft.llm.Selection.weightedSample(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String],
            col(args(2).asInstanceOf[String]),
            args(3).asInstanceOf[Long], args(4).asInstanceOf[Long])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(5).asInstanceOf[String], sampled)))
        }
      }
      // shard auditing: decode packed dense-id sequences back to readable
      // text map-side. Byte-level models decode byte-exactly; whitespace
      // models decode through the persisted alphabet's dense vocab (up to
      // the mode's inherent whitespace-run collapse) — only alphabet-less
      // legacy whitespace tables refuse (their ids are xxhash64 digests,
      // not invertible). Eos/foreign ids skip, an eos_special decodes to
      // its literal string. Per-ROW decode by default: a multi-byte char
      // whose byte-ids straddle a sequence cut renders as U+FFFD at that
      // row's edge — fine for eyeballing. `exact_edges => true` upgrades
      // byte-level tables to EXACT cross-cut recovery: each row joins the
      // next row's first ≤3 ids (one hash equi-join on seq_col — no
      // window, no single partition) and every char is emitted by the row
      // it STARTS in, so concatenating the per-row texts in seq_col order
      // is byte-exact (Bpe.decodeShardsExact). Whitespace-mode dense ids
      // never split a char, so their per-row decode already concatenates
      // exactly and the flag is unnecessary there
      case "detokenize" => new GraftProcedure("detokenize",
          Seq(("table", StringType, None), ("ids_col", StringType, None),
            ("bpe_table", StringType, None),
            ("out_table", StringType, None),
            ("eos_special", StringType, Some("''")),
            ("exact_edges", BooleanType, Some("false")),
            ("seq_col", StringType, Some("'seq_id'"))),
          StructType(Seq(StructField("n_rows", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          val model = tableIn(tx, args(2).asInstanceOf[String]).select()
          val byteLevel = graft.llm.Bpe.byteLevelFromDf(model)
          val wsAlphabet =
            if (byteLevel) Seq.empty[String]
            else graft.llm.Bpe.alphabetFromDf(model)
          require(byteLevel || wsAlphabet.nonEmpty,
            "detokenize needs a byte-level merge table or a whitespace " +
              "table with a persisted alphabet — legacy alphabet-less " +
              "whitespace ids are hash digests and cannot be inverted")
          val merges = graft.llm.Bpe.mergesFromDf(model)
          val sp = args(4).asInstanceOf[String] match {
            case "" => Nil
            case s => Seq(s)
          }
          require(sp.isEmpty || byteLevel,
            "eos_special decoding needs a byte-level merge table " +
              "(whitespace packing uses the plain eos_id sentinel)")
          val exactEdges = args(5).asInstanceOf[Boolean]
          require(!exactEdges || byteLevel,
            "exact_edges applies to byte-level tables only (whitespace " +
              "dense ids never split a character across rows)")
          val idsCol = args(1).asInstanceOf[String]
          val src = tableIn(tx, args(0).asInstanceOf[String]).select()
          val decoded =
            if (exactEdges)
              graft.llm.Bpe.decodeShardsExact(src,
                args(6).asInstanceOf[String], idsCol, merges, sp)
            else if (byteLevel)
              src.withColumn("text",
                graft.llm.Bpe.decodeByteLevelIdsCol(c(idsCol), merges, sp))
            else
              src.withColumn("text",
                graft.llm.Bpe.decodeWhitespaceIdsCol(c(idsCol), merges,
                  wsAlphabet))
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], decoded)))
        }
      }
      // regex/phrase blocklist gate: drop docs matching ANY pattern from a
      // caller table (config-scale list → one combined map-side rlike)
      case "regex_filter" => new GraftProcedure("regex_filter",
          Seq(("table", StringType, None), ("text_col", StringType, None),
            ("patterns_table", StringType, None),
            ("out_table", StringType, None),
            ("pattern_col", StringType, Some("'pattern'"))),
          StructType(Seq(StructField("n_kept", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          // blocklists are config-scale by contract (hundreds of rows —
          // the same bound the published lists have); bounded collect.
          // NULL pattern rows drop here (the siblings' null semantics:
          // a null entry never matches anything)
          val patterns = tableIn(tx, args(2).asInstanceOf[String]).select()
            .select(c(args(4).asInstanceOf[String]).cast("string"))
            .collect().flatMap(r => Option(r.getString(0))).toSeq
          val kept = graft.llm.Curation.regexBlocklistFilter(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], patterns)
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], kept)))
        }
      }
      // stratified per-domain uniform sample: ≤ k rows from every distinct
      // domain value, deterministic per seed — the bounded eyeball export
      // next to CALL corpus_report's per-source breakdown
      case "sample_per_domain" => new GraftProcedure("sample_per_domain",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("domain_col", StringType, None), ("out_table", StringType, None),
            ("k", IntegerType, Some("100")),
            ("seed", LongType, Some("0L"))),
          StructType(Seq(StructField("n_sampled", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val sampled = graft.llm.Selection.samplePerDomain(
            tableIn(tx, args(0).asInstanceOf[String]).select(),
            args(1).asInstanceOf[String], args(2).asInstanceOf[String],
            args(4).asInstanceOf[Int], args(5).asInstanceOf[Long])
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(3).asInstanceOf[String], sampled)))
        }
      }
      // fit a quality model on the rows of `table` whose `label_col` is
      // non-null (0/1) and PERSIST it to `model_table` — downstream scoring
      // (CALL classifier_score's refit-free sibling, the streaming sink's
      // `scoreWith` option) loads this one-row model instead of refitting
      case "classifier_fit" => new GraftProcedure("classifier_fit",
          Seq(("table", StringType, None), ("text_col", StringType, None),
            ("label_col", StringType, None),
            ("model_table", StringType, None),
            ("dim", IntegerType, Some("32")),
            ("iters", IntegerType, Some("6"))),
          StructType(Seq(StructField("n_labeled", LongType),
            StructField("train_accuracy", DoubleType),
            StructField("final_loss", DoubleType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          val dim = args(4).asInstanceOf[Int]
          val labeled = tableIn(tx, args(0).asInstanceOf[String]).select()
            .select(c(args(2).asInstanceOf[String]).cast("double").as("_lbl"),
              graft.llm.TextAnalysis.hashEmbedding(
                c(args(1).asInstanceOf[String]), dim).as("_x"))
            .filter(c("_lbl").isNotNull)
          val n = labeled.count()
          val m = graft.llm.Classifier.lrFitNewton(labeled, "_lbl", "_x",
            dim, iters = args(5).asInstanceOf[Int])
          val acc = graft.llm.Classifier.accuracy(labeled, "_lbl", "_x", m)
          replaceOutput(tx, args(3).asInstanceOf[String],
            graft.llm.Classifier.modelToDf(labeled.sparkSession, m))
          Seq(org.apache.spark.sql.Row(n, acc, m.lossHistory.last))
        }
      }
      // multiclass versions of classifier_fit / classifier_score: labels
      // are 0-based class indexes; the persisted model is one row per
      // class, reloadable by softmax_score (or the Scala API)
      // tokenizer persistence + the text→tensors last mile in SQL:
      // bpe_fit learns a merge table (bounded sample, like the Scala API);
      // tokenize_pack loads it, BPE-encodes every document map-side
      // (subword ids = xxhash64 of the subword — no dense vocab table
      // needed for packing), and cuts exact seq_len sequences
      case "bpe_fit" => new GraftProcedure("bpe_fit",
          Seq(("table", StringType, None), ("text_col", StringType, None),
            ("model_table", StringType, None),
            ("num_merges", IntegerType, Some("200")),
            ("sample_docs", IntegerType, Some("1000")),
            // byte_level => GPT-2 regex pre-tokens + byte→unicode alphabet
            // (byte fallback, whitespace-lossless); the merge-table format
            // is shared, so pass the SAME flag to tokenize_pack
            ("byte_level", BooleanType, Some("false"))),
          StructType(Seq(StructField("n_merges", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          val byteLevel = args(5).asInstanceOf[Boolean]
          val src = tableIn(tx, args(0).asInstanceOf[String]).select()
          // whitespace mode also persists the fit alphabet (negative-rank
          // rows) so its packed ids are DENSE and invertible; byte-level's
          // base alphabet is the fixed 256-byte table, nothing to persist
          val (merges, alphabet) =
            if (byteLevel)
              (graft.llm.Bpe.trainByteLevel(src, args(1).asInstanceOf[String],
                args(3).asInstanceOf[Int], args(4).asInstanceOf[Int]),
                Seq.empty[String])
            else graft.llm.Bpe.trainWithAlphabet(src,
              args(1).asInstanceOf[String], args(3).asInstanceOf[Int],
              args(4).asInstanceOf[Int])
          val spark = org.apache.spark.sql.SparkSession.active
          // the mode is persisted IN the model table (byte_level column),
          // so tokenize_pack can never encode with the wrong alphabet
          replaceOutput(tx, args(2).asInstanceOf[String],
            graft.llm.Bpe.mergesToDf(spark, merges, byteLevel, alphabet))
          Seq(org.apache.spark.sql.Row(merges.length.toLong))
        }
      }
      case "tokenize_pack" => new GraftProcedure("tokenize_pack",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("bpe_table", StringType, None),
            ("out_table", StringType, None),
            ("seq_len", IntegerType, Some("512")),
            ("eos_id", LongType, Some("-1L")),
            ("byte_level", BooleanType, Some("false")),
            // byte-level only: treat this string as an atomic special
            // token inline (tiktoken allowed_special) AND use its dense id
            // (vocabSize + 0) as the document separator instead of eos_id
            // — the GPT-2 packing layout, <|endoftext|>-joined
            ("eos_special", StringType, Some("''"))),
          StructType(Seq(StructField("n_sequences", LongType),
            StructField("n_tokens", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c, size => asize,
            sum => asum, transform => atransform, xxhash64 => ahash}
          val model = tableIn(tx, args(3).asInstanceOf[String]).select()
          val merges = graft.llm.Bpe.mergesFromDf(model)
          val idCol = args(1).asInstanceOf[String]
          // the encode alphabet FOLLOWS the model table's persisted mode
          // (bpe_fit stamps a byte_level column) — the procedure's own
          // byte_level arg is only the fallback for hand-built tables
          // without the column, so a fit/pack mode mismatch cannot
          // silently corrupt the ids. byte_level packs DENSE GPT-2-shaped
          // vocab ids (base bytes 0-255 + merge ranks — byteLevelVocab);
          // whitespace mode packs DENSE whitespaceVocab ids when the model
          // table persists an alphabet (every bpe_fit since alphabets
          // exist), falling back to legacy xxhash64 subword digests for
          // alphabet-less tables — those ids still pack and dedupe fine,
          // they just can't detokenize
          val byteLevel = graft.llm.Bpe.byteLevelFromDf(model,
            default = args(7).asInstanceOf[Boolean])
          val wsAlphabet =
            if (byteLevel) Seq.empty[String]
            else graft.llm.Bpe.alphabetFromDf(model)
          val eosSpecial = args(8).asInstanceOf[String]
          require(eosSpecial.isEmpty || byteLevel,
            "eos_special needs a byte-level merge table (dense id space)")
          val specials = if (eosSpecial.isEmpty) Nil else Seq(eosSpecial)
          val eosId =
            if (eosSpecial.isEmpty) args(6).asInstanceOf[Long]
            else graft.llm.Bpe.specialIds(merges, specials)(eosSpecial).toLong
          val ids =
            if (byteLevel)
              atransform(graft.llm.Bpe.encodeByteLevelIds(
                c(args(2).asInstanceOf[String]), merges, specials),
                i => i.cast("long"))
            else if (wsAlphabet.nonEmpty)
              atransform(graft.llm.Bpe.encodeWhitespaceIds(
                c(args(2).asInstanceOf[String]), merges, wsAlphabet),
                i => i.cast("long"))
            else atransform(graft.llm.Bpe.encode(
              c(args(2).asInstanceOf[String]), merges), w => ahash(w))
          val docs = tableIn(tx, args(0).asInstanceOf[String]).select()
            .select(c(idCol), ids.as("_ids"))
          val packed = graft.llm.Curation.packTokenSequences(docs, idCol,
            "_ids", args(5).asInstanceOf[Int], eosId)
          val n = replaceOutput(tx, args(4).asInstanceOf[String], packed)
          val toks = tableIn(tx, args(4).asInstanceOf[String]).select()
            .agg(asum(asize(c("token_ids"))).cast("long")).head().getLong(0)
          Seq(org.apache.spark.sql.Row(n, toks))
        }
      }
      case "softmax_fit" => new GraftProcedure("softmax_fit",
          Seq(("table", StringType, None), ("text_col", StringType, None),
            ("label_col", StringType, None),
            ("model_table", StringType, None),
            ("dim", IntegerType, Some("16")),
            ("classes", IntegerType, Some("2")),
            ("iters", IntegerType, Some("8"))),
          StructType(Seq(StructField("n_labeled", LongType),
            StructField("train_accuracy", DoubleType),
            StructField("final_loss", DoubleType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          val dim = args(4).asInstanceOf[Int]
          val labeled = tableIn(tx, args(0).asInstanceOf[String]).select()
            .select(c(args(2).asInstanceOf[String]).cast("double").as("_lbl"),
              graft.llm.TextAnalysis.hashEmbedding(
                c(args(1).asInstanceOf[String]), dim).as("_x"))
            .filter(c("_lbl").isNotNull)
          val n = labeled.count()
          val m = graft.llm.Classifier.softmaxFit(labeled, "_lbl", "_x",
            dim, args(5).asInstanceOf[Int], iters = args(6).asInstanceOf[Int])
          val acc = graft.llm.Classifier.softmaxAccuracy(
            labeled, "_lbl", "_x", m)
          replaceOutput(tx, args(3).asInstanceOf[String],
            graft.llm.Classifier.softmaxModelToDf(labeled.sparkSession, m))
          Seq(org.apache.spark.sql.Row(n, acc, m.lossHistory.last))
        }
      }
      case "softmax_score" => new GraftProcedure("softmax_score",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None),
            ("model_table", StringType, None),
            ("out_table", StringType, None)),
          StructType(Seq(StructField("n_scored", LongType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          val m = graft.llm.Classifier.softmaxModelFromDf(
            tableIn(tx, args(3).asInstanceOf[String]).select())
          val base = tableIn(tx, args(0).asInstanceOf[String]).select()
          val x = graft.llm.TextAnalysis.hashEmbedding(
            c(args(2).asInstanceOf[String]), m.dim)
          val scored = base.select(c(args(1).asInstanceOf[String]),
            graft.llm.Classifier.softmaxPredict(x, m).as("predicted_class"),
            org.apache.spark.sql.functions.array_max(
              graft.llm.Classifier.softmaxProbs(x, m)).as("confidence"))
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], scored)))
        }
      }
      case "classifier_score" => new GraftProcedure("classifier_score",
          Seq(("table", StringType, None), ("id_col", StringType, None),
            ("text_col", StringType, None), ("label_col", StringType, None),
            ("out_table", StringType, None),
            ("dim", IntegerType, Some("32")),
            ("iters", IntegerType, Some("6"))),
          StructType(Seq(StructField("n_scored", LongType),
            StructField("n_labeled", LongType),
            StructField("train_accuracy", DoubleType)))) {
        def run(args: Seq[Any]) = inSession { tx =>
          import org.apache.spark.sql.functions.{col => c}
          val dim = args(5).asInstanceOf[Int]
          val idCol = args(1).asInstanceOf[String]
          val base = tableIn(tx, args(0).asInstanceOf[String]).select()
          val feats = base.select(c(idCol),
            c(args(3).asInstanceOf[String]).cast("double").as("_lbl"),
            graft.llm.TextAnalysis.hashEmbedding(
              c(args(2).asInstanceOf[String]), dim).as("_x"))
          val labeled = feats.filter(c("_lbl").isNotNull)
          val nLabeled = labeled.count()
          val m = graft.llm.Classifier.lrFitNewton(labeled, "_lbl", "_x",
            dim, iters = args(6).asInstanceOf[Int])
          val acc = graft.llm.Classifier.accuracy(labeled, "_lbl", "_x", m)
          val scored = feats.select(c(idCol),
            graft.llm.Classifier.lrScore(c("_x"), m).as("quality_score"))
          Seq(org.apache.spark.sql.Row(
            replaceOutput(tx, args(4).asInstanceOf[String], scored),
            nLabeled, acc))
        }
      }
      case _ => bad()
    }
  }
}

/** Shared procedure plumbing: IN parameters (with optional SQL-literal
  * defaults), a LocalScan result (procedure outputs are metadata-scale),
  * and Catalyst row conversion. */
private[graftglue] abstract class GraftProcedure(
    procName: String,
    params: Seq[(String, org.apache.spark.sql.types.DataType, Option[String])],
    outSchema: StructType)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter

  /** `args` are JVM-typed parameter values in declaration order. */
  def run(args: Seq[Any]): Seq[org.apache.spark.sql.Row]

  override def name(): String = procName
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.procedures.BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] =
    params.map { case (n, t, dflt) =>
      val b = ProcedureParameter.in(n, t)
      dflt.foreach(b.defaultValue)
      b.build()
    }.toArray

  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : util.Iterator[Scan] = {
    val inTypes = params.map(_._2)
    val args = inTypes.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(input.get(i, t), t)
    }
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(outSchema)
    val out = run(args).map(r =>
      conv(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        .copy()).toArray
    util.List.of[Scan](new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = out
      override def readSchema(): StructType = outSchema
    }).iterator()
  }
}

/** Scan delegate: BATCH_READ from the wrapped file table (write capability
  * mixed in via [[GraftV1Writable]] at loadTable). */
private[graftglue] class ReadOnlyTable(delegate: ParquetTable)
    extends Table with SupportsRead {
  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options)
}

/** Exposes the manifest's table properties to SQL (`SHOW TBLPROPERTIES`,
  * DESCRIBE EXTENDED) — mixed into whichever table shape loadTable built. */
private[graftglue] trait GraftTableProps extends Table {
  def tableProps: Map[String, String]
  override def properties(): util.Map[String, String] = tableProps.asJava
}

/**
 * SQL INSERT routed through the transactional manifest commit: Spark's V1
 * write bridge hands the materialized insert DataFrame to the driver, where
 * `Table.insert` performs the DISTRIBUTED parquet write and the transaction's
 * manifest CAS publishes it atomically — concurrent SQL inserts against the
 * same table version conflict exactly like API inserts (one wins, one gets
 * `Conflict`). Append-only; the exposed schema includes `_row_id`, so an
 * INSERT must supply explicit row ids (the reference's external
 * `vastdb_rowid` path) or insert through the API, which allocates them.
 */
private[graftglue] trait GraftV1Writable extends Table with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations {
  def writeRoot: String
  def writeIdent: Identifier

  private def inTx[T](body: graft.api.Table => T): T =
    GraftFilters.inTx(writeRoot, writeIdent)(body)

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean = filters.forall(f => GraftFilters.filterToColumn(f).isDefined)

  /** SQL UPDATE / MERGE (and DELETEs `canDeleteWhere` rejects, e.g. with
    * subqueries) via Spark's row-level-operation framework — group-based
    * copy-on-write through the same transactional manifest CAS as SQL
    * INSERT/DELETE. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder =
    () => new GraftGroupCowOperation(info.command, writeRoot, writeIdent)

  /** SQL DELETE WHERE through the same transactional COW path as the API:
    * victims resolved by `_row_id` under the predicate, file-pruned rewrite,
    * manifest CAS publish. */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    inTx(_.deleteWhere(GraftFilters.conjunction(filters.toSeq)
      .getOrElse(org.apache.spark.sql.functions.lit(true))))
  }

  abstract override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.copyOf(super.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE) // INSERT OVERWRITE (full-table)
    caps
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // INSERT OVERWRITE plans OverwriteByExpression(deleteExpr = true);
      // Spark's V1 fallback signals it by calling truncate() on the builder
      private var replaceAll = false
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            if (replaceAll || overwrite) inTx(_.overwrite(data))
            else inTx(_.insert(data))
            ()
          }
      }
    }
}

/** Ships to executors with the write: wraps each parquet DataWriter so rows
  * carrying a leading `__row_operation` marker (ReplaceData's group-COW
  * contract when the connector declares no metadata attributes) are
  * projected down to the data schema before hitting the file writer. Rows
  * already at the data arity pass through untouched. */
private[graftglue] class OperationStrippingWriterFactory(
    delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val w = delegate.createWriter(partitionId, taskId)
    val n = dataSchema.length
    // mutable single-instance view: the parquet writer consumes each row
    // synchronously inside write(), so reuse is safe and allocation-free
    val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      dataSchema, (1 to n).toIndexedSeq)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == n) w.write(row)
        else { proj.project(row); w.write(proj) }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
      override def currentMetricsValues() = w.currentMetricsValues()
    }
  }
}

/** Shared glue helpers: filter -> Column translation and the one-shot
  * transaction wrapper both the V1 write surface and the row-level COW use. */
object GraftFilters {

  def inTx[T](root: String, ident: Identifier)(body: graft.api.Table => T): T = {
    val ns = ident.namespace()
    val vs = graft.api.VastSession(SparkSession.active, root)
    vs.transaction(tx => body(
      tx.bucket(ns.head).schema(ns.tail.mkString("/")).table(ident.name())))
  }

  /** V1 Filter -> Column; None marks a filter this surface can't express
    * (canDeleteWhere then rejects the whole DELETE, per the DSv2 contract;
    * the row-level COW just prunes less). */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.catalyst.{expressions => cx}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      // not `isin`, which records a call site per value (10^5 at runtime)
      case In(a, vs) => Some(Glue.column(cx.In(
        Glue.resolvableExpression(col(a)), vs.toSeq.map(cx.Literal(_)))))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
      case Or(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The AND of the filters `filterToColumn` can express (None: none can),
    * a weaker condition sound for `graft.api.Table.planFiles`. */
  def conjunction(filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.spark.sql.Column] =
    filters.flatMap(filterToColumn).reduceOption(_ && _)

  /** [[conjunction]] of Catalyst filters (the SQL scan builder's, the
    * changefeed's), each attribute renamed by `names` first. */
  def fromCatalyst(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                   names: String => String = identity)
      : Option[org.apache.spark.sql.Column] =
    conjunction(filters.flatMap(e => org.apache.spark.sql.execution.datasources
      .DataSourceStrategy.translateFilter(e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.withName(names(a.name))
      }, supportNestedPredicatePushdown = true)))
}

/**
 * Group-based copy-on-write row-level operation (SQL UPDATE / MERGE /
 * subquery-DELETE), the Spark-native integration the reference exposes as
 * predicate-addressed DML (vastdb/table.py:779-843):
 *
 *  - the operation PINS the table's manifest version at creation; its scan
 *    reads exactly that file set;
 *  - pushed filters are used for STATIC GROUP PRUNING ONLY: the file
 *    planner (`Table.planFiles`: zone maps, IN sets, buckets) keeps or
 *    drops whole FILES, never rows (`pushedFilters()` reports nothing as
 *    handled, so matching semantics stay with Spark) — pruned-out files are
 *    carried into the new manifest version verbatim;
 *  - the replacement rows for the scanned groups are written by Spark's own
 *    distributed parquet write (`ParquetWrite` over a staging dir inside
 *    the table's data dir — a genuine DSv2 BatchWrite, so the rewrite runs
 *    fully parallel on the cluster, never through the driver);
 *  - commit adopts the staged files + kept files under the transactional
 *    manifest CAS (`Table.adoptReplacement`): a concurrent commit between
 *    scan and write raises `Conflict` exactly like two racing API writers.
 *
 * At 100 TB an UPDATE touching one file's key range therefore rewrites one
 * file, not the table — the same bound as the API's per-file victim pruning.
 */
private[graftglue] class GraftGroupCowOperation(
    cmd: RowLevelOperation.Command, root: String, ident: Identifier)
    extends RowLevelOperation {

  private val tdir = Paths.get(
    (root +: ident.namespace().toSeq :+ ident.name()).mkString("/"))
  private val version = graft.api.Table.currentVersion(tdir)
  private val manifest =
    Manifest.read(tdir.resolve("_manifest").resolve(f"v$version%08d.json"))
  private val schemaWithId = StructType(manifest.schema.fields :+
    StructField("_row_id", LongType, nullable = false))

  /** Files the scan reads (groups being replaced); starts as ALL files and
    * shrinks under file planning when filters are pushed. The write's
    * commit keeps `manifest.files -- scanned` untouched. */
  @volatile private var scanned: Seq[graft.api.Manifest.FileEntry] = manifest.files

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      import org.apache.spark.sql.sources.Filter

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // group pruning only — sound because files are either fully
        // rewritten (scanned) or fully kept (pruned out); a file with ANY
        // possibly-matching row is conservatively kept in the scan
        GraftFilters.conjunction(filters.toSeq).foreach(c =>
          scanned = graft.api.Table.planFiles(manifest, c))
        filters // nothing handled at row level; Spark keeps the semantics
      }

      override def pushedFilters(): Array[Filter] = Array.empty

      // a plain (or rename-group) scan of exactly the scanned files — never
      // a runtime-filtering one: a file pruned at runtime would be neither
      // rewritten nor kept by the commit, and its rows would be lost
      override def build(): Scan = RenameGroups.builder(ident.toString,
        schemaWithId, tdir, scanned, CaseInsensitiveStringMap.empty()).build()
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        // a full UUID, like `b-` batch dirs: operations sharing a dir would
        // adopt (and on abort delete) each other's staged files
        private val staged = tdir.resolve("data")
          .resolve("sqlcow-" + java.util.UUID.randomUUID())
        private val parquetWrite = ParquetWrite(
          Seq(staged.toString), "parquet", _ => true, info)

        override def description(): String = s"graft-group-cow-$cmd"

        override def toBatch: BatchWrite = new BatchWrite {
          private val delegate = parquetWrite.toBatch

          override def createBatchWriterFactory(pInfo: PhysicalWriteInfo) =
            // the ReplaceData query prepends RowDeltaUtils.OPERATION_COLUMN
            // (an int marker distinguishing carried-over from modified rows)
            // and Spark only strips it when the operation declares metadata
            // attributes — this engine doesn't need any, so strip it here
            new OperationStrippingWriterFactory(
              delegate.createBatchWriterFactory(pInfo), info.schema())

          override def useCommitCoordinator: Boolean =
            delegate.useCommitCoordinator

          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            delegate.commit(messages) // finalize the staged parquet files
            val keep = (manifest.files.toSet -- scanned.toSet).map(_.path)
            try GraftFilters.inTx(root, ident)(
              _.adoptReplacement(staged, version, keep,
                cmd.toString.toLowerCase(java.util.Locale.ROOT)))
            catch { case e: Throwable =>
              graft.api.Table.deleteRecursively(staged); throw e
            }
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit = {
            delegate.abort(messages)
            graft.api.Table.deleteRecursively(staged)
          }
        }
      }
    }
}
