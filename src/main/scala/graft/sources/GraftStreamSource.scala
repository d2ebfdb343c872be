package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.graftglue.{GroupRoutingFactory, RenameGroups}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.api.Manifest

/**
 * Structured Streaming source over a graft table: the manifest version chain
 * IS the changelog, so `spark.readStream.format("graft").load(tableDir)`
 * turns a catalog table into an incremental feed — each micro-batch reads
 * exactly the data files ADDED between two manifest versions (offsets are
 * version numbers; immutable files make the delta a set difference of path
 * lists, no file-level diffing or listing).
 *
 * This is the 100 TB ingest shape: a continuously-loaded corpus table feeds
 * downstream curation/dedup/analysis pipelines incrementally — each trigger
 * processes only the newly committed files, never rescans the corpus, and
 * restart resumes from the checkpointed version.
 *
 * Semantics: APPEND-ONLY changefeed. A version that REMOVES files (COW
 * update/delete, compaction) fails the stream with a clear error by default
 * — replaying a rewritten file would re-deliver carried-over rows — unless
 * `ignoreChanges=true`, which emits the rewritten files (documented
 * at-least-once for rows in rewritten groups, the standard trade). Lazy
 * column RENAMES are served through per-file-group physical→logical name
 * mapping (the rename-group reader the SQL catalog's scans share,
 * `graftglue.RenameGroups`), so a stream crosses a rename without restart;
 * only a DROP of a column the stream was started with fails (its data
 * genuinely stops existing in new files).
 *
 * Filter pushdown: Spark's micro-batch planner builds streaming scans
 * directly (no V2ScanRelationPushDown pass), so the source registers a tiny
 * advisory optimizer rule ([[GraftStreamFilterPushdown]]) that runs per
 * micro-batch, finds `Filter` atop this scan's relation, and offers the
 * conjuncts to the scan; each batch threads them into its delegate parquet
 * scans for row-group/page skipping. The `Filter` node itself is left in
 * the plan — Spark re-evaluates every predicate post-scan, so pushdown is a
 * pruning hint, never a correctness dependency (as in the SQL scans).
 *
 * Batch reads through this provider serve the CURRENT manifest's files —
 * `spark.read.format("graft").load(dir)` — with Spark's own parquet scan
 * (rename-evolved tables served through the same group mapping). With
 * `endingVersion=e` the read is the full state AS OF version e (path-based
 * time travel, schema pinned at e); adding `startingVersion=s` narrows it
 * to the files committed in (s, e] — batch "table changes" for backfills
 * and catch-up jobs that don't want a streaming checkpoint.
 */
class GraftStreamSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** The WRITE side of the symmetry: `writeStream.format("graft")` lands
    * each micro-batch in a catalog table through the transactional insert
    * with batch-id dedup — exactly-once TABLE CONTENTS on restart (same
    * property key as `Events.sinkToTable`, so the two interoperate).
    * Addressing is explicit (`root`, `bucket`, `schema`, `table` options):
    * the commit machinery needs the catalog root (audit log, tx ids), which
    * a bare table path cannot reveal. Append mode inserts; Complete mode
    * OVERWRITES the table each batch (the natural shape for a streaming
    * aggregation result table); Update is rejected. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    def req(k: String): String = parameters.getOrElse(k,
      throw new IllegalArgumentException(
        s"graft sink needs .option(\"$k\", ...) — " +
          "(root, bucket, schema, table) address the target"))
    if (outputMode == org.apache.spark.sql.streaming.OutputMode.Update())
      throw new IllegalArgumentException(
        "graft sink supports Append (insert) and Complete (overwrite); " +
          "Update-mode upserts need a key and are not expressible here")
    new GraftTableSink(sqlContext.sparkSession, req("root"), req("bucket"),
      req("schema"), req("table"),
      complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete(),
      maintainRollups = parameters.get("maintainRollups").exists(_.toBoolean),
      maintainIndexes = parameters.get("maintainIndexes").exists(_.toBoolean),
      scoreWith = parameters.get("scoreWith"),
      scoreTextCol = parameters.getOrElse("scoreTextCol", "text"),
      suppressNearDups = parameters.get("suppressNearDups"),
      suppressThreshold =
        parameters.get("suppressThreshold").map(_.toDouble).getOrElse(0.7),
      suppressDupSpans = parameters.get("suppressDupSpans"),
      suppressSpanFrac =
        parameters.get("suppressSpanFrac").map(_.toDouble).getOrElse(0.5))
  }

  private def tableDir(options: CaseInsensitiveStringMap): Path =
    Option(options.get("path")).map(Paths.get(_)).getOrElse {
      // writeStream resolution probes the V2 table (inferSchema/getTable)
      // BEFORE falling back to the V1 sink, so sink-addressed options must
      // also resolve to a table dir here
      val parts = Seq("root", "bucket", "schema", "table")
        .map(k => Option(options.get(k)))
      if (parts.forall(_.isDefined)) {
        val Seq(r, b, s, t) = parts.map(_.get)
        Paths.get(r, b +: s.split("/").toSeq :+ t: _*)
      } else throw new IllegalArgumentException(
        "graft source needs .load(<table dir>) — or, as a sink, " +
          "options (root, bucket, schema, table)")
    }

  /** Version a read PINS its schema and rename-identity anchor to: the
    * `endingVersion` option when given (batch reads of a past state must
    * see THAT state's schema — a later rename hasn't happened yet from the
    * read's point of view), else the current version. Validated here so a
    * typo'd version fails at resolution, not mid-scan. */
  private def pinVersionOf(dir: Path, opts: CaseInsensitiveStringMap): Long = {
    val cur = graft.api.Table.currentVersion(dir)
    Option(opts.get("endingVersion")).map { raw =>
      val n = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"endingVersion must be a version number, got '$raw'")
      }
      if (n < 0 || n > cur) throw new IllegalArgumentException(
        s"endingVersion $n is outside the table's versions 0..$cur")
      if (!Files.exists(dir.resolve("_manifest").resolve(f"v$n%08d.json")))
        throw new IllegalArgumentException(
          s"endingVersion $n of $dir was removed by version retention " +
            "(vacuum) — pick a retained version (see Table.history())")
      n
    }.getOrElse(cur)
  }

  private def manifestAtVersion(dir: Path, v: Long): Manifest.TableManifest =
    Manifest.read(dir.resolve("_manifest").resolve(f"v$v%08d.json"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = tableDir(options)
    StructType(
      manifestAtVersion(dir, pinVersionOf(dir, options)).schema.fields :+
        StructField("_row_id", LongType, nullable = false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = tableDir(opts)
    // the schema PIN version: inferSchema just read this same manifest, so
    // the rename stamps of this version are the ones the pinned column
    // names were resolved against — the identity anchor for scans created
    // later (query start may come after further DDL)
    new GraftStreamTable(dir, schema, pinVersionOf(dir, opts),
      opts.getBoolean("ignoreChanges", false))
  }
}

private class GraftStreamTable(dir: Path, tableSchema: StructType,
                               pinVersion: Long,
                               tableIgnoreChanges: Boolean)
    extends Table with SupportsRead {

  override def name(): String = s"graft-stream:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var required: StructType = tableSchema
      private var toPush: Seq[Expression] = Nil
      override def pruneColumns(s: StructType): Unit =
        if (s.nonEmpty) required = s
      // batch path only (V2ScanRelationPushDown never visits streaming
      // relations — those get filters via GraftStreamFilterPushdown);
      // everything stays a post-scan filter, pushdown is advisory
      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        toPush = filters
        filters
      }
      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty
      override def build(): Scan = new GraftStreamScan(dir, required,
        pinVersion, toPush,
        // reader options surface here on every query (re)start; the
        // getTable-time flag is the fallback for resolution paths that
        // don't carry options into the scan
        tableIgnoreChanges || options.getBoolean("ignoreChanges", false),
        options.getInt("maxFilesPerTrigger", Int.MaxValue),
        options.getLong("maxBytesPerTrigger", Long.MaxValue),
        Option(options.get("startingVersion")),
        Option(options.get("endingVersion")))
    }
}

private[graft] class GraftStreamScan(dir: Path, required: StructType,
                                     pinVersion: Long,
                                     builderFilters: Seq[Expression],
                                     ignoreChanges: Boolean,
                                     maxFilesPerTrigger: Int,
                                     maxBytesPerTrigger: Long = Long.MaxValue,
                                     startingVersion: Option[String] = None,
                                     endingVersion: Option[String] = None)
    extends Scan {
  override def readSchema(): StructType = required
  override def description(): String = {
    // live offers when the plan string renders before partition planning
    // snapshotted them; the snapshot afterwards — same content either way,
    // since each micro-batch re-optimizes before it plans
    val (neededDesc, streamDesc) =
      if (offerFresh) (streamNeeded, streamFilters)
      else consumed.map(c => (c._2, c._3)).getOrElse((None, Nil))
    val pf = builderFilters ++ streamDesc
    val needed = neededDesc
    s"graft version-delta scan of $dir" +
      (if (pf.isEmpty) "" else s", PushedFilters: [${pf.mkString(", ")}]") +
      needed.fold("")(n => s", PrunedTo: [${
        required.fieldNames.filter(f => n.contains(f) || f == "_row_id").mkString(", ")}]")
  }

  /** Conjuncts offered per micro-batch by [[GraftStreamFilterPushdown]];
    * merged with any builder-pushed filters before reaching the delegate
    * parquet scans. Volatile: written by the optimizer rule on the driver,
    * read when the same batch plans its partitions. */
  @volatile private[graft] var streamFilters: Seq[Expression] = Nil
  private[graft] def pushdownFilters: Seq[Expression] =
    builderFilters ++ streamFilters

  /** Columns the per-batch plan actually consumes (None = all), offered by
    * the same rule. The scan's OUTPUT schema is pinned for the query's
    * lifetime — Spark's streaming planner never re-negotiates it — so
    * pruning here means the delegate parquet scans request a NONEXISTENT
    * physical name for each unused column: the reader null-fills it without
    * decoding a single page, rows stay positionally aligned with
    * `readSchema`, and the Project above drops the nulls it never looked
    * at. Filter columns are always in the needed set (the rule includes
    * filter references), so residual re-evaluation is untouched. */
  @volatile private[graft] var streamNeeded: Option[Set[String]] = None

  /** Set true by the rule each time it writes offers; flipped false when
    * `planGroups` snapshots them. Distinguishes "the rule optimized THIS
    * batch's plan" from "these offers are left over from an earlier batch"
    * — an empty offer from a run rule is legitimate and must not be
    * confused with cleared state. */
  @volatile private[graft] var offerFresh: Boolean = false

  /** Offers snapshotted for the micro-batch span currently being planned:
    * (span, needed columns, filter conjuncts). planGroups runs more than
    * once per batch (Spark forces partition planning during query planning
    * and again at execution), so repeat calls for the SAME span must reuse
    * the snapshot; a call for a NEW span without a fresh offer means the
    * rule was skipped — degrade to no pruning, never to stale pruning
    * (stale `__pruned_` null-fills would be silent wrong data). */
  @volatile private var consumed: Option[(String, Option[Set[String]], Seq[Expression])] = None

  private def manifestPath(v: Long): Path =
    dir.resolve("_manifest").resolve(f"v$v%08d.json")

  private def manifestAt(v: Long): Manifest.TableManifest = {
    val p = manifestPath(v)
    if (!Files.exists(p)) throw new IllegalStateException(
      s"graft stream offset v$v no longer exists under $dir — the manifest " +
        "was vacuumed; restart the stream from a fresh checkpoint")
    Manifest.read(p)
  }

  private val TombstonePrefix = "__dropped_"

  /** All NON-IDENTITY rename stamps of a manifest, physical → set of
    * claimed logicals. Identity claims (p→p, left by a rename that circled
    * back to a file's own physical name) are no-ops for identity TRACKING
    * and are dropped here — per-GROUP physical resolution still sees them
    * through each file's own map, where they resolve correctly. A physical
    * can carry several claims when a DDL skipped files whose name was
    * already claimed (tombstone guard). */
  private def claimsOf(m: Manifest.TableManifest): Map[String, Set[String]] =
    m.files.flatMap(_.renames).distinct
      .filter { case (p, g) => p != g }
      .groupBy(_._1).map { case (p, gs) => p -> gs.map(_._2).toSet }

  /** Rename stamps visible when the schema was pinned — the column-identity
    * anchor. Physical names inside a file never change, only their logical
    * mapping does, so comparing a later manifest's claims against these
    * tells exactly which DDL touched a pinned column's identity after the
    * pin. If retention vacuumed the pin manifest since, the current
    * manifest is the best remaining approximation. */
  private val pinClaims: Map[String, Set[String]] = claimsOf(
    if (Files.exists(manifestPath(pinVersion))) manifestAt(pinVersion)
    else manifestAt(graft.api.Table.currentVersion(dir)))

  /** The pinned column's CURRENT logical name at the batch's end manifest.
    * The pinned identity's bytes live in two kinds of files: those whose
    * pin-time claim pointed AT `f` (claimed carriers — ANY change to such a
    * carrier's claims, including a replacement, is DDL on the pinned
    * identity), and unmapped files whose physical name IS `f` (there, only
    * claim ADDITIONS count: a replacement of a claim that never pointed at
    * `f` is another identity — a renamed-away or dropped predecessor —
    * being DDL'd, which must not disturb the pinned column). A live new
    * claim is a mid-stream rename (follow it); a tombstone is a mid-stream
    * drop (fail with a restart instruction). */
  private def currentName(f: String, endClaims: Map[String, Set[String]],
                          endSchema: Set[String], span: String): String = {
    if (f == "_row_id") return f
    val fromCarriers = pinClaims.collect {
      case (p, gs) if gs.contains(f) =>
        endClaims.getOrElse(p, Set.empty) -- gs
    }.flatten.toSet
    val pinF = pinClaims.getOrElse(f, Set.empty)
    val endF = endClaims.getOrElse(f, Set.empty)
    val fromUnmapped =
      if (pinF.subsetOf(endF)) endF -- pinF else Set.empty[String]
    val newClaims = fromCarriers ++ fromUnmapped
    val live = newClaims.filterNot(_.startsWith(TombstonePrefix))
    if (live.size > 1) throw new IllegalStateException(
      s"graft stream: ambiguous rename history for column $f at $span of " +
        s"$dir (renamed to ${live.mkString(" and ")}); restart the stream")
    live.headOption match {
      case Some(g) => g // renamed mid-stream: same identity, newer name
      case None if newClaims.nonEmpty => throw new IllegalStateException(
        s"graft stream: column $f was dropped at $span of $dir; " +
          "restart the stream against the current schema")
      case None =>
        if (endSchema.contains(f)) f
        else throw new IllegalStateException(
          s"graft stream: column $f no longer exists at $span of $dir " +
            "(dropped mid-stream); restart the stream against the " +
            "current schema")
    }
  }

  /** Plan `files` as parquet partitions grouped by rename map: each group
    * requests its PHYSICAL names in pinned-logical field order, so rows line
    * up positionally with `required` and no per-row projection is needed.
    * Per group, the pinned column's current name resolves to the group's
    * physical name exactly like the SQL scans: a claim ON the current name
    * by another logical (drop tombstone, renamed-away column) null-fills via
    * a nonexistent `__absent_` request — dropped bytes never resurrect. Pushdown filters are re-addressed to each group's physical
    * names so parquet row-group skipping survives renames. Each partition
    * carries its group's reader factory (`RenameGroups.partitions`) —
    * partitions from different micro-batches (and different rename eras)
    * share one routing factory. */
  private def planGroups(files: Seq[Manifest.FileEntry],
                         endM: Manifest.TableManifest,
                         span: String): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    val endSchema = endM.schema.fieldNames.toSet
    val endClaims = claimsOf(endM)
    val curNames = required.fieldNames.map(f =>
      f -> currentName(f, endClaims, endSchema, span)).toMap
    val (needed, pushed) =
      if (offerFresh) {
        val snap = (span, streamNeeded, streamFilters)
        consumed = Some(snap)
        offerFresh = false
        streamNeeded = None
        streamFilters = Nil
        (snap._2, builderFilters ++ snap._3)
      } else consumed match {
        case Some((s, n, f)) if s == span => (n, builderFilters ++ f)
        case _ => (None, builderFilters) // rule skipped: prune nothing
      }
    files.groupBy(_.renames).toSeq.flatMap { case (renames, group) =>
      val phys = StructType(required.fields.map { f =>
        if (needed.exists(n => !n.contains(f.name) && f.name != "_row_id"))
          f.copy(name = s"__pruned_${f.name}") // null-filled, never decoded
        else f.copy(name =
          Manifest.FileEntry.physicalName(renames, curNames(f.name)))
      })
      val physByLogical = required.fieldNames.zip(phys.fieldNames).toMap
      RenameGroups.partitions(RenameGroups.scan(s"graft-stream:$dir",
        group.map(f => graft.api.Table.resolvePath(dir, f.path)), phys,
        pushed, n => physByLogical.getOrElse(n, n)))
    }.toArray
  }

  /** Batch path — one manifest delta, three read shapes:
    *  - no version options: the CURRENT manifest's full file set;
    *  - `endingVersion=e`: the full file set AS OF version e (batch time
    *    travel — the schema was already pinned at e by the provider, so a
    *    later rename is invisible, matching SQL `VERSION AS OF`);
    *  - `startingVersion=s[, endingVersion=e]`: the files ADDED in (s, e]
    *    — batch "table changes", the one-shot form of the changefeed for
    *    backfills and catch-up jobs that don't want a checkpoint. Same
    *    append-only guard (and `ignoreChanges` escape) as the stream.
    * All shapes are the same set difference: start = version 0 (empty
    * start set) reproduces a full read. Rename-evolved files are served
    * through the same per-group mapping as the stream. */
  override def toBatch: Batch = {
    val cur = graft.api.Table.currentVersion(dir)
    def parseV(name: String, raw: String): Long = {
      val n = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a version number, got '$raw'")
      }
      if (n < 0 || n > cur) throw new IllegalArgumentException(
        s"$name $n is outside the table's versions 0..$cur")
      // a batch read must fail with batch guidance, not manifestAt's
      // restart-the-stream message (n == 0 never reads a manifest)
      if (n > 0 && !Files.exists(manifestPath(n)))
        throw new IllegalArgumentException(
          s"$name $n of $dir was removed by version retention (vacuum) — " +
            "pick a retained version (see Table.history())")
      n
    }
    val e = endingVersion.map(parseV("endingVersion", _)).getOrElse(cur)
    val s = startingVersion match {
      case None | Some("earliest") => 0L
      case Some("latest") => throw new IllegalArgumentException(
        "startingVersion=latest only makes sense for a STREAM (tail new " +
          "commits); a batch read needs a version number")
      case Some(raw) => parseV("startingVersion", raw)
    }
    if (s > e) throw new IllegalArgumentException(
      s"startingVersion $s is beyond endingVersion $e")
    val endM = manifestAt(e)
    val startPaths: Set[String] =
      if (s == 0) Set.empty else manifestAt(s).files.map(_.path).toSet
    // endpoint set-difference semantics, identical to a stream draining
    // (s, e] in one batch: a file both ADDED and rewritten inside the span
    // appears only in its final form (snapshot-consistent at e); the guard
    // fires for files that existed AT s and were rewritten since — the
    // case that would re-deliver rows a consumer of version s already has
    val removed = startPaths -- endM.files.map(_.path).toSet
    if (removed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"graft batch: versions v$s..v$e of $dir removed ${removed.size} " +
          "file(s) (COW update/delete or compaction) — this feed is " +
          "append-only. Set ignoreChanges=true to emit rewritten files " +
          "(at-least-once for rows in rewritten groups)")
    val files = endM.files.filterNot(f => startPaths(f.path))
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        planGroups(files, endM, s"v$s..v$e")
      override def createReaderFactory(): PartitionReaderFactory =
        GroupRoutingFactory
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (endingVersion.isDefined) throw new IllegalArgumentException(
      "endingVersion is a BATCH read option (time travel / table changes); " +
        "a stream has no end — bound it with Trigger.AvailableNow instead")
    GraftStreamFilterPushdown.register(SparkSession.active)
    new MicroBatchStream with SupportsAdmissionControl
        with SupportsTriggerAvailableNow {
      // Trigger.AvailableNow: pin the drain target at query start so the
      // paced batches stop at a stable version even while writers commit
      @volatile private var availableNowTarget: Option[Long] = None
      override def prepareForTriggerAvailableNow(): Unit =
        availableNowTarget = Some(graft.api.Table.currentVersion(dir))
      private def targetVersion: Long =
        availableNowTarget.getOrElse(graft.api.Table.currentVersion(dir))

      /** Where a FRESH stream (no checkpoint) begins: "earliest" (default)
        * replays the whole table as the first batch, "latest" starts at the
        * current version (new commits only), a number starts AFTER that
        * version — the reprocess-vs-tail choice every changefeed consumer
        * needs. Checkpointed restarts never consult this. */
      override def initialOffset(): Offset = GraftVersionOffset(
        startingVersion match {
          case None | Some("earliest") => 0L
          case Some("latest") => graft.api.Table.currentVersion(dir)
          case Some(v) =>
            val n = try v.toLong catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"startingVersion must be earliest|latest|<version>, got '$v'")
            }
            val cur = graft.api.Table.currentVersion(dir)
            // fail fast: past-the-end silently behaving as "latest" would
            // hide a typo'd version (or the wrong table) forever
            if (n > cur) throw new IllegalArgumentException(
              s"startingVersion $n is beyond the table's current version $cur")
            n
        })
      override def latestOffset(): Offset = GraftVersionOffset(targetVersion)
      override def deserializeOffset(json: String): Offset =
        GraftVersionOffset(json.trim.toLong)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()

      /** Backlog rate limiting (`maxFilesPerTrigger` / `maxBytesPerTrigger`,
        * combined when both set): instead of draining an arbitrarily deep
        * version backlog in one giant batch, advance to the FURTHEST
        * version whose cumulative new-file count AND byte volume (manifest-
        * recorded sizes, no filesystem stats) stay within the caps (always
        * ≥ one version, so progress is guaranteed even past an oversized
        * commit). Versions are walked forward from the current offset —
        * cost proportional to the backlog being admitted, not to table
        * history. A vacuumed intermediate manifest is skipped (its files
        * are carried by the next retained version, which absorbs the whole
        * gap as one step) instead of failing the walk — only the ENDPOINT
        * manifests are load-bearing for correctness. */
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val cur = targetVersion
        val s = start.asInstanceOf[GraftVersionOffset].version
        val paced = maxFilesPerTrigger != Int.MaxValue ||
          maxBytesPerTrigger != Long.MaxValue
        if (!paced || cur <= s)
          return GraftVersionOffset(cur)
        var known: Set[String] =
          if (s == 0) Set.empty else manifestAt(s).files.map(_.path).toSet
        var admitted = s
        var fileBudget = maxFilesPerTrigger.toLong
        var byteBudget = maxBytesPerTrigger
        var v = s + 1
        var stop = false
        while (!stop && v <= cur) {
          // a vacuumed INTERIOR version folds into the next retained one
          // (its files are carried forward); the ENDPOINT manifest is
          // load-bearing — planInputPartitions needs it — so a missing
          // `cur` (a pinned AvailableNow target vacuumed mid-drain) must
          // fail with the clear manifestAt error, not end a silent,
          // empty "drained" run
          if (v < cur && !Files.exists(manifestPath(v))) v += 1
          else {
            val m = manifestAt(v)
            val fresh = m.files.filterNot(f => known(f.path))
            // legacy entries (pre-bytes manifests) fall back to one
            // filesystem stat each — bounded by the backlog being admitted
            // — so byte pacing keeps its contract on pre-upgrade tables
            // instead of silently draining them in one giant batch
            val freshBytes = fresh.map(f =>
              if (f.bytes > 0 || maxBytesPerTrigger == Long.MaxValue) f.bytes
              else (try Files.size(Paths.get(
                graft.api.Table.resolvePath(dir, f.path)))
              catch { case _: Exception => 0L })).sum
            if ((fresh.size <= fileBudget && freshBytes <= byteBudget) ||
                admitted == s) { // always admit ≥ 1 version
              admitted = v
              fileBudget -= fresh.size
              byteBudget -= freshBytes
              known = m.files.map(_.path).toSet
              v += 1
              if (fileBudget <= 0 || byteBudget <= 0) stop = true
            } else stop = true
          }
        }
        GraftVersionOffset(admitted)
      }

      override def getDefaultReadLimit: ReadLimit =
        if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
        else ReadLimit.maxFiles(maxFilesPerTrigger)

      override def planInputPartitions(start: Offset, end: Offset)
          : Array[InputPartition] = {
        val s = start.asInstanceOf[GraftVersionOffset].version
        val e = end.asInstanceOf[GraftVersionOffset].version
        if (e <= s) return Array.empty
        val startPaths: Set[String] =
          if (s == 0) Set.empty else manifestAt(s).files.map(_.path).toSet
        val endM = manifestAt(e)
        val endPaths = endM.files.map(_.path).toSet
        val removed = startPaths -- endPaths
        if (removed.nonEmpty && !ignoreChanges)
          throw new IllegalStateException(
            s"graft stream: versions v$s..v$e of $dir removed ${removed.size} " +
              "file(s) (COW update/delete or compaction) — this feed is " +
              "append-only. Set ignoreChanges=true to emit rewritten files " +
              "(at-least-once for rows in rewritten groups)")
        val newFiles = endM.files.filterNot(f => startPaths(f.path))
        planGroups(newFiles, endM, s"v$s..v$e")
      }

      /** Partitions carry their group's reader factory (schema/filters are
        * per rename group and per batch), so the stream-level factory is a
        * pure router. */
      override def createReaderFactory(): PartitionReaderFactory =
        GroupRoutingFactory
    }
  }
}

/**
 * Advisory filter pushdown + column pruning for the streaming path:
 * MicroBatchExecution builds streaming scans with
 * `newScanBuilder(...).build()` directly — the V2ScanRelationPushDown
 * optimizer rule only visits batch relations — so neither filters nor the
 * consumed-column set above a changefeed scan ever reach parquet on their
 * own. This rule runs inside each micro-batch's IncrementalExecution,
 * matches Project/Filter chains sitting on a [[GraftStreamScan]] relation,
 * and OFFERS the scan the filter conjuncts (→ row-group skipping) and the
 * referenced-column set (→ unused columns null-filled instead of decoded).
 * The plan itself is returned unchanged: Spark still re-evaluates every
 * predicate post-scan, and only columns nothing references are pruned, so
 * both offers are pruning hints, never correctness dependencies.
 *
 * A scan consumed from SEVERAL branches (stream self-join: one Scan
 * instance, shared offer state) gets the UNION of needed columns and only
 * the filters COMMON to every branch — per-branch filters must not starve
 * another branch's rows out of the shared partition plan.
 *
 * Registered automatically when a graft stream starts (always before the
 * first micro-batch optimizes, so no other wiring is needed).
 */
object GraftStreamFilterPushdown extends Rule[LogicalPlan] {

  /** Idempotently append to the session's extra optimizer rules (driver-
    * side, at stream start — before the first micro-batch optimizes). */
  def register(session: SparkSession): Unit = synchronized {
    if (!session.experimental.extraOptimizations.contains(this))
      session.experimental.extraOptimizations =
        session.experimental.extraOptimizations :+ this
  }

  import org.apache.spark.sql.catalyst.planning.PhysicalOperation
  import org.apache.spark.sql.catalyst.expressions.NamedExpression

  /** One consumer branch: (projects or Nil = everything, filter conjuncts). */
  private type Branch = (Seq[NamedExpression], Seq[Expression])

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val branches = scala.collection.mutable
      .LinkedHashMap.empty[GraftStreamScan, Vector[Branch]]
    // manual pre-order walk that STOPS at a matched chain: a chain's
    // interior Filter/relation nodes must not re-match as a second,
    // wider-looking consumer of the same scan
    def walk(p: LogicalPlan): Unit = p match {
      case PhysicalOperation(projects, filters, r: StreamingDataSourceV2ScanRelation)
          if r.scan.isInstanceOf[GraftStreamScan] =>
        val g = r.scan.asInstanceOf[GraftStreamScan]
        branches.update(g, branches.getOrElse(g, Vector.empty) :+
          ((projects, filters.filter(_.deterministic))))
      case other => other.children.foreach(walk)
    }
    walk(plan)
    branches.foreach { case (g, bs) =>
      // filters: conjuncts present in EVERY branch (one branch: all of them)
      g.streamFilters = bs.head._2.filter(f =>
        bs.tail.forall(_._2.exists(f.semanticEquals)))
      // columns: union of references; a branch with no Project consumes all
      g.streamNeeded =
        if (bs.exists(_._1.isEmpty)) None
        else Some(bs.flatMap { case (ps, fs) =>
          (ps ++ fs).flatMap(_.references.toSeq.map(_.name))
        }.toSet)
      g.offerFresh = true // stamp: these offers belong to the plan being
      // optimized right now, not to some earlier batch
    }
    plan
  }
}

/** Stream offset = manifest version (total-ordered by the commit CAS). */
private[sources] case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/**
 * V1 streaming sink writing micro-batches into a catalog table. Each batch
 * is ONE transaction: the (distributed) insert/overwrite plus the
 * `graft.stream.lastBatchId` property advance publish under a single
 * manifest CAS, so a replayed batch after a crash-restart is recognized
 * (`batchId <= lastBatchId`) and skipped — exactly-once table contents
 * without any sink-side write-ahead log.
 */
private[sources] class GraftTableSink(spark: SparkSession, root: String,
                                      bucket: String, schemaPath: String,
                                      table: String, complete: Boolean,
                                      maintainRollups: Boolean = false,
                                      maintainIndexes: Boolean = false,
                                      scoreWith: Option[String] = None,
                                      scoreTextCol: String = "text",
                                      suppressNearDups: Option[String] = None,
                                      suppressThreshold: Double = 0.7,
                                      suppressDupSpans: Option[String] = None,
                                      suppressSpanFrac: Double = 0.5)
    extends org.apache.spark.sql.execution.streaming.Sink {

  // one session for the query's lifetime — tx ids stay monotonic across
  // batches and the root-dir probe runs once
  private val session = graft.api.VastSession(spark, root)

  /** Ingest-time scoring (`scoreWith` = `bucket.schema.table` of a model
    * table): the model re-loads PER BATCH (metadata-size read — a refit
    * between batches takes effect on the next micro-batch without a
    * stream restart), and the scoring itself is the codegen'd map-side
    * column over `scoreTextCol` — the batch plan gains a projection,
    * never a shuffle. The model KIND is detected from the table's schema:
    * a binary model ([[graft.llm.Classifier.modelToDf]] / CALL
    * classifier_fit) appends `quality_score`; a multiclass softmax model
    * ([[graft.llm.Classifier.softmaxModelToDf]] / CALL softmax_fit, which
    * carries a `class` column) appends `predicted_class` + `confidence`;
    * a DSIR importance model ([[graft.llm.Selection.dsirFit]] / CALL
    * dsir_fit, which carries a `log_ratio` column) appends
    * `dsir_logweight` — ingest-time data selection against a target
    * distribution, same per-batch model reload. */
  private def applyScore(df: org.apache.spark.sql.DataFrame, tx: graft.api.Transaction)
      : org.apache.spark.sql.DataFrame = scoreWith match {
    case None => df
    case Some(qualified) =>
      import org.apache.spark.sql.functions.{array_max, col}
      val parts = qualified.split('.')
      require(parts.length >= 3,
        s"scoreWith must be bucket.schema.table, got '$qualified'")
      val mdf = tx.bucket(parts.head)
        .schema(parts.slice(1, parts.length - 1).mkString("/"))
        .table(parts.last).select()
      if (mdf.columns.contains("class")) {
        val m = graft.llm.Classifier.softmaxModelFromDf(mdf)
        val x = graft.llm.TextAnalysis.hashEmbedding(col(scoreTextCol), m.dim)
        df.withColumn("predicted_class",
            graft.llm.Classifier.softmaxPredict(x, m))
          .withColumn("confidence",
            array_max(graft.llm.Classifier.softmaxProbs(x, m)))
      } else if (mdf.columns.contains("log_ratio")) {
        graft.llm.Selection.dsirScoreFromModel(df, mdf, scoreTextCol)
      } else {
        val m = graft.llm.Classifier.modelFromDf(mdf)
        df.withColumn("quality_score", graft.llm.Classifier.lrScore(
          graft.llm.TextAnalysis.hashEmbedding(col(scoreTextCol), m.dim), m))
      }
  }

  // suppression is append-ingest semantics: in Complete mode every batch
  // RECOMPUTES the full result, so probing it against the rows the
  // overwrite is about to replace would suppress the carried-over rows
  // and silently destroy the table's contents batch over batch
  require(!(complete && suppressNearDups.nonEmpty),
    "suppressNearDups requires Append mode: a Complete-mode batch would " +
      "be suppressed against the very rows its overwrite replaces")
  require(!(complete && suppressDupSpans.nonEmpty),
    "suppressDupSpans requires Append mode: a Complete-mode batch would " +
      "be suppressed against the very rows its overwrite replaces")

  /** Ingest-time near-dup suppression (`suppressNearDups` = text column
    * name; requires a text dedup index on that column of the TARGET
    * table): per batch, exact-duplicate rows within the batch collapse
    * (`dropDuplicates` on the column), then the batch probes the
    * persisted corpus signatures ([[graft.api.Table.probeNearDups]] —
    * batch×corpus band join, never corpus×corpus) and rows whose
    * estimated jaccard against ANY already-ingested row reaches
    * `suppressThreshold` are dropped before the insert. Pair with
    * `maintainIndexes=true` so each batch's survivors enter the index in
    * the same transaction — the NEXT batch then probes against them with
    * zero lag. Residual by design: two non-identical near-dups arriving
    * in the SAME batch both survive (the probe sees only committed rows);
    * they surface in the next offline dedup pass. Batch rows join back by
    * a 64-bit text hash — a cross-text collision (≈2⁻⁶⁴) would at worst
    * over-suppress one row, the safe direction for a dedup gate. */
  private def applySuppression(df: org.apache.spark.sql.DataFrame,
                               tx: graft.api.Transaction)
      : org.apache.spark.sql.DataFrame = suppressNearDups match {
    case None => df
    case Some(column) =>
      import org.apache.spark.sql.functions.{col, xxhash64}
      val t = tx.bucket(bucket).schema(schemaPath).table(table)
      val exact = df.dropDuplicates(column)
      val keyed = exact.withColumn("__nd_k", xxhash64(col(column)))
      val matched = t.probeNearDups(column,
          keyed.select(col("__nd_k"), col(column)).distinct(),
          "__nd_k", suppressThreshold)
        .select(col("q_id").as("__nd_hit")).distinct()
      keyed.join(matched, keyed("__nd_k") === matched("__nd_hit"),
          "left_anti")
        .drop("__nd_k")
  }

  /** Ingest-time exact-substring suppression (`suppressDupSpans` = text
    * column; requires a SPAN index on that column of the target table —
    * [[graft.api.Table.createSpanIndex]]): per batch, each row probes the
    * persisted corpus window hashes ([[graft.api.Table.probeDupSpans]] —
    * the batch side broadcasts, corpus never shuffles) and rows whose
    * fraction of tokens already covered by corpus spans reaches
    * `suppressSpanFrac` are dropped before the insert — the copied-
    * boilerplate / re-crawl gate that near-dup signatures miss when the
    * surrounding document differs. Composable with `suppressNearDups`
    * (near-dup gate runs first) and `maintainIndexes` (survivors'
    * windows are probe-able by the NEXT batch). Same residual as the
    * near-dup gate: same-batch duplicates survive (the probe sees only
    * committed rows). */
  private def applySpanSuppression(df: org.apache.spark.sql.DataFrame,
                                   tx: graft.api.Transaction)
      : org.apache.spark.sql.DataFrame = suppressDupSpans match {
    case None => df
    case Some(column) =>
      import org.apache.spark.sql.functions.{col, xxhash64}
      val t = tx.bucket(bucket).schema(schemaPath).table(table)
      val keyed = df.withColumn("__sp_k", xxhash64(col(column)))
      val hit = t.probeDupSpans(column,
          keyed.select(col("__sp_k"), col(column)).distinct(), "__sp_k")
        .filter(col("dup_frac") >= suppressSpanFrac)
        .select(col("__sp_k").as("__sp_hit")).distinct()
      keyed.join(hit, keyed("__sp_k") === hit("__sp_hit"), "left_anti")
        .drop("__sp_k")
  }

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    // the incoming frame still carries the streaming flag; re-wrap it as a
    // batch frame over the same physical rows or the insert's own write
    // would trip the streaming-source analysis check
    val batch = org.apache.spark.sql.graftglue.Glue.asBatch(data)
    session.transaction { tx =>
      val t = tx.bucket(bucket).schema(schemaPath).table(table)
      val last = t.properties.get("graft.stream.lastBatchId")
        .map(_.toLong).getOrElse(-1L)
      if (batchId > last) {
        val scored = applyScore(
          applySpanSuppression(applySuppression(batch, tx), tx), tx)
        if (complete) t.overwrite(scored) else t.insert(scored)
        // opt-in rollup maintenance: the insert just staled any rollups;
        // refreshing INSIDE the batch transaction publishes data + fresh
        // rollups under one manifest CAS, and because an append-mode batch
        // only ADDS files the refresh is the incremental merge — per batch
        // the table re-reads this batch, never itself. Ingest-to-dashboard
        // stays a rollup scan with zero scheduled maintenance.
        if (maintainRollups)
          t.manifest.aggProjections.filter(_.stale)
            .foreach(p => t.refreshAggProjection(p.name))
        // opt-in dedup/full-text index maintenance: same single-CAS story —
        // this batch's new files are exactly the uncovered set, so the
        // refresh computes signatures/postings for the batch only and the
        // committed version serves index-backed search with zero lag
        if (maintainIndexes)
          t.manifest.dedupIndexes.map(_.column).distinct
            .foreach(t.refreshDedupIndex)
        t.setProperties(Map("graft.stream.lastBatchId" -> batchId.toString))
      }
    }
    ()
  }

  override def toString: String = s"GraftTableSink($bucket.$schemaPath.$table)"
}
