package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Dataset-curation operators for training-data pipelines: deterministic
 * splitting and balanced subsampling. Both are pure map-side/windowed
 * shapes — no collect, no cross joins — and deterministic across runs and
 * cluster layouts (hash- and key-ordered, never RNG-state-dependent).
 */
object Curation {

  /** Deterministic train/test assignment: split = hash(id) bucket, so the
    * SAME row lands in the SAME split on every run, any partitioning, and
    * any engine that persists the assignment — the property that keeps a
    * test set leak-free across pipeline re-runs. Pure map-side. */
  /** Per-stage row accounting from [[curateCorpus]]. */
  case class CurationReport(input: Long, afterNormalize: Long,
                            afterQuality: Long, afterExactDedup: Long,
                            afterNearDedup: Long, afterDecontaminate: Long,
                            afterLineDedup: Long = -1L,
                            afterClassifier: Long = -1L,
                            afterGopher: Long = -1L,
                            afterC4: Long = -1L,
                            afterSpanDedup: Long = -1L)

  /** Where [[curateCorpus]] materializes stage boundaries. Every stage has
    * 2+ consumers (its accounting count plus the next stage), so WITHOUT a
    * boundary the quality pass and the minhash chain re-run several times
    * over (measured 1.75× end-to-end). Two shapes:
    *  - [[LocalCheckpointStore]] (default): eager executor-local
    *    checkpoint — fast, but each stage holds a corpus copy in executor
    *    storage that dies with an executor. The gate-scale/single-job shape.
    *  - a durable store (`graft.api.CatalogStageStore`): stage outputs land
    *    in catalog TABLES — they survive executor loss, are independently
    *    queryable/time-travelable afterwards, and the row accounting comes
    *    from the insert's returned row-id range, so NO extra count()
    *    actions run. The 100-TB shape.
    */
  trait StageStore {
    /** Materialize `df` as stage `name`; return the re-readable frame and
      * its row count (derived from the materialization itself — an
      * implementation must not spend a second corpus pass counting). */
    def materialize(name: String, df: DataFrame): (DataFrame, Long)
  }

  /** Eager executor-local checkpoint boundary (see [[StageStore]]).
    * The count() here is near-free: it scans the just-checkpointed blocks,
    * not the stage lineage. */
  object LocalCheckpointStore extends StageStore {
    def materialize(name: String, df: DataFrame): (DataFrame, Long) = {
      val c = df.localCheckpoint(true)
      (c, c.count())
    }
  }

  /**
   * The standard web-corpus curation pipeline as ONE call — normalize →
   * [corpus-wide line dedup] → heuristic quality gate → [model quality
   * gate] → exact dedup → minhash near-dedup → benchmark decontamination
   * — returning the surviving rows plus a per-stage row accounting. Each
   * stage is the already-oracled operator; this is the composition a
   * reference user runs end-to-end, with the stage ORDER that matters at
   * scale: normalization BEFORE any hashing (canonically equivalent bytes
   * must collapse first), line dedup BEFORE content hashing (two docs
   * differing only in boilerplate must collapse in the exact stage),
   * cheap map-side gates before shuffling ones, the near-dup pair join
   * only over quality survivors.
   *
   * The bracketed stages are opt-in (default off): `c4Clean` applies the
   * [[c4Filter]] line rules + page drops right after normalization
   * (structural cleaning belongs before any content hashing);
   * `dedupLines` enables keep-first line dedup; `gopherRules` applies
   * the published Gopher rule checklist ([[TextAnalysis.gopherRules]])
   * as a map-side gate BEFORE the heuristic score (rules first, scores
   * second — the published stage order); `qualityModel` gates on a FITTED
   * [[Classifier]] score (`≥ minModelScore`) — the fasttext-style
   * model-assisted filter, applied AFTER the heuristic gate so the model
   * only scores rows the cheap gate already admitted; `spanDedupTokens >
   * 0` runs exact-substring span removal ([[Dedup.dedupSpansKeepFirst]],
   * Lee et al. ExactSubstr) after line dedup — another text REWRITE, so
   * it too sits before content hashing and before the quality gate that
   * drops gutted documents. All preserve the pipeline's determinism
   * (hash-based dedup; rules and a fixed model evaluate identically on
   * any layout). `afterLineDedup`/`afterClassifier`/`afterGopher`/
   * `afterSpanDedup` report -1 when their stage is off (no count action
   * is spent on a no-op).
   */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
                   bench: DataFrame, benchTextCol: String,
                   minQuality: Double = 0.3,
                   nearDupThreshold: Double = 0.7,
                   contaminationN: Int = 5,
                   dedupLines: Boolean = false,
                   qualityModel: Option[Classifier.LrModel] = None,
                   minModelScore: Double = 0.5,
                   gopherRules: Boolean = false,
                   c4Clean: Boolean = false,
                   c4MinLines: Int = 5,
                   spanDedupTokens: Int = 0,
                   stageStore: StageStore = LocalCheckpointStore)
      : (DataFrame, CurationReport) = {
    // Stage boundaries materialize once through `stageStore` (see
    // [[StageStore]]): every stage has 2+ consumers (its accounting count
    // plus the next stage — exact feeds both the pair join and the
    // representative filter), so without materialization the token-stats
    // quality pass and the minhash chain re-run several times over
    // (measured 1.75x end-to-end). At true corpus scale pass a durable
    // catalog-backed store (`graft.api.CatalogStageStore`).
    val input = df.count()
    val normalized = df.withColumn(textCol,
      TextAnalysis.normalizeText(col(textCol)))
    val afterNormalize = input // normalization rewrites, never drops
    val (c4ed, afterC4) =
      if (!c4Clean) (normalized, -1L)
      else {
        // map-side page drops + line rewrite, single consumer — plain
        // count action (the next boundary materializes the rewrite)
        val c = c4Filter(normalized, textCol, c4MinLines)
        (c, c.count())
      }
    val (lineDeduped, afterLineDedup) =
      if (!dedupLines) (c4ed, -1L)
      else {
        // line dedup REWRITES text (rows survive, possibly emptied); the
        // quality gate right after is what drops gutted documents
        val (ld, n) = stageStore.materialize("line_dedup", c4ed
          .transform(Dedup.dedupLinesKeepFirst(_, idCol, textCol)))
        (ld, n)
      }
    val (spanDeduped, afterSpanDedup) =
      if (spanDedupTokens <= 0) (lineDeduped, -1L)
      else {
        // exact-substring removal (Lee et al. ExactSubstr) — rewrites like
        // line dedup, so it also sits BEFORE content hashing and before the
        // quality gate that drops gutted documents
        val (sd, n) = stageStore.materialize("span_dedup", lineDeduped
          .transform(Dedup.dedupSpansKeepFirst(_, idCol, textCol,
            spanTokens = spanDedupTokens)))
        (sd, n)
      }
    val (gophered, afterGopher) =
      if (!gopherRules) (spanDeduped, -1L)
      else {
        // map-side rule gate, single consumer — a plain count action (the
        // heuristic stage right after is the materialization boundary)
        val g = spanDeduped.filter(
          TextAnalysis.gopherRules(col(textCol)).getField("passes"))
        (g, g.count())
      }
    val heuristic = qualityGate(gophered,
      TextAnalysis.qualityScore(col(textCol)), minQuality)
    val (quality, afterQuality, afterClassifier) = qualityModel match {
      case None =>
        val (q, n) = stageStore.materialize("quality", heuristic)
        (q, n, -1L)
      case Some(m) =>
        // heuristic count is a plain action (not a boundary: single
        // consumer) — the model gate right after is the boundary
        val nHeuristic = heuristic.count()
        val (gated, nGated) = stageStore.materialize("model_gate",
          heuristic.filter(Classifier.lrScore(
            TextAnalysis.hashEmbedding(col(textCol), m.dim), m)
            >= minModelScore))
        (gated, nHeuristic, nGated)
    }
    val (exact, afterExact) = stageStore.materialize("exact_dedup",
      Dedup.exactKeepFirst(quality, textCol, idCol))
    val (near, afterNear) = stageStore.materialize("near_dedup",
      Dedup.keepClusterRepresentatives(exact, idCol,
        Dedup.minhashPairs(exact, idCol, textCol,
          threshold = nearDupThreshold)))
    val (clean, afterDecon) = stageStore.materialize("decontaminated",
      decontaminate(near, idCol, textCol,
        bench, benchTextCol, n = contaminationN))
    (clean, CurationReport(input, afterNormalize, afterQuality,
      afterExact, afterNear, afterDecon,
      afterLineDedup = afterLineDedup, afterClassifier = afterClassifier,
      afterGopher = afterGopher, afterC4 = afterC4,
      afterSpanDedup = afterSpanDedup))
  }

  /** Host of a URL: optional scheme and userinfo stripped, port/path/query
    * dropped, lowercased, trailing dot removed — pure string ops with
    * RE2-compatible syntax, so any regex engine computes the identical
    * host. No public-suffix list is consulted: [[urlBlocklistFilter]]'s
    * suffix semantics make one unnecessary (the blocklist entry decides
    * the granularity). */
  def urlHost(url: Column): Column =
    // no trailing .*$: regexp_extract is a substring FIND in both engines,
    // and a tail that must consume the rest of the string would fail the
    // whole match on URLs containing a newline (dot doesn't cross \n) —
    // the gate would then FAIL OPEN with host "", the unsafe direction
    regexp_replace(lower(regexp_extract(url,
      "^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]*)", 1)),
      "\\.$", "")

  /** The dot-suffix chain of a host: "a.b.co" → ["a.b.co", "b.co", "co"] —
    * map-side array work, ≤ label-count entries per row. */
  private def hostSuffixes(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts) - i + 1), "."))
  }

  /**
   * URL-domain blocklist filtering (the RefinedWeb/CCNet pre-text gate:
   * adult/fraud/tracker domain lists — UT1 and friends — applied BEFORE
   * any text processing): drop every row whose URL's host equals a
   * blocked domain or sits under one (`ads.example.com` is blocked by
   * `example.com` but `notexample.com` is not — label-boundary suffix
   * match, which is exactly how published pipelines apply these lists
   * and why no public-suffix list is needed: the ENTRY fixes the match
   * depth). The list is caller-supplied (one `domainCol` string per row,
   * case-folded here).
   *
   * 100 TB shape: hosts and their ≤ label-count suffix chains derive
   * map-side; the chain equi-joins the blocklist — broadcast at real
   * list sizes (UT1 ~ millions of rows ≈ tens of MB) — and matched ids
   * anti-join back. No regex scan per (row × entry), never a cross join.
   */
  def urlBlocklistFilter(df: DataFrame, idCol: String, urlCol: String,
                         blocklist: DataFrame,
                         domainCol: String = "domain"): DataFrame = {
    val blocked = blocklist
      .select(lower(col(domainCol)).as("__bl_dom")).distinct()
    val dropped = df
      .select(col(idCol),
        explode(hostSuffixes(urlHost(col(urlCol)))).as("__sfx"))
      .join(broadcast(blocked), col("__sfx") === col("__bl_dom"))
      .select(col(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /**
   * Term blocklist filtering (the C4 "bad words" gate, mechanism only —
   * the published list is caller-supplied): drop every document
   * containing any blocked term as a whitespace TOKEN (case-folded
   * exact-token match; multi-word or substring patterns want a regex
   * gate upstream — documented in LIMITS.md). Same scale shape as the
   * URL filter: tokens explode map-side, the term table broadcasts,
   * matched ids anti-join back.
   */
  def termBlocklistFilter(df: DataFrame, idCol: String, textCol: String,
                          terms: DataFrame,
                          termCol: String = "term"): DataFrame = {
    val blocked = terms.select(lower(col(termCol)).as("__bl_term")).distinct()
    // \s+ split, not single-space: a blocked term at a line boundary
    // ("...\nbadword\n...") must still match — the documented
    // whitespace-TOKEN semantics
    val dropped = df
      .select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("__w"))
      .join(broadcast(blocked), col("__w") === col("__bl_term"))
      .select(col(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /**
   * Regex blocklist filtering — the phrase/substring gate
   * [[termBlocklistFilter]]'s token semantics defer to (LIMITS.md's
   * "multi-word or substring patterns want a regex gate upstream" — this
   * is that gate): drop every document where ANY caller pattern finds a
   * match. Patterns are Java regexes; prefix `(?i)` inside a pattern for
   * case-insensitivity (the flag stays confined to its pattern after
   * combination).
   *
   * Scale shape: the pattern list is CONFIG-scale (the published lists
   * are hundreds of entries) and compiles into ONE alternation
   * `(?:p1)|(?:p2)|…` evaluated map-side per row via codegen'd `rlike` —
   * never a row×pattern join, never a shuffle beyond the scan. An empty
   * list (null/empty entries are dropped) keeps everything.
   *
   * Backreference caveat: combining renumbers capturing groups, which
   * would silently break any pattern using `\1`-style backreferences —
   * and combining two patterns that each define the SAME named group
   * `(?<name>…)` is a compile error, while a `\k<name>` backreference
   * could silently rebind across pattern boundaries. So when ANY pattern
   * contains a numeric/named backreference or defines a named group, the
   * gate falls back to per-pattern `rlike`s OR-ed together (still one
   * map-side pass, N regex evals per row instead of one alternation —
   * correctness over the fast path).
   */
  def regexBlocklistFilter(df: DataFrame, textCol: String,
                           patterns: Seq[String]): DataFrame = {
    val ps = patterns.filter(p => p != null && p.nonEmpty)
    if (ps.isEmpty) df
    else {
      val hasBackref = ps.exists(p =>
        """\\[1-9]|\\k<|\(\?<[A-Za-z]""".r.findFirstIn(p).isDefined)
      val matched =
        if (hasBackref) ps.map(p => col(textCol).rlike(p)).reduce(_ || _)
        else col(textCol).rlike(ps.map(p => s"(?:$p)").mkString("|"))
      // null text cannot match anything → survives (the anti-join gates'
      // null semantics; a bare !rlike would null out and drop the row)
      df.filter(col(textCol).isNull || !matched)
    }
  }

  def hashSplit(df: DataFrame, idCol: String,
                testPermille: Int = 100): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000, "testPermille in [0,1000]")
    df.withColumn("split",
      when(pmod(xxhash64(col(idCol)), lit(1000L)) < testPermille, "test")
        .otherwise("train"))
  }

  /** Balanced per-group subsample: the first `perGroup` rows of each group
    * in `orderCol` order — caps any group's contribution (e.g. per-language
    * balancing) with ONE key-partitioned window, no shuffle beyond the
    * group key. Deterministic given a total order column. */
  def balancedSample(df: DataFrame, groupCol: String, orderCol: String,
                     perGroup: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(orderCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= perGroup)
      .drop("_rn")
  }

  /** Quality-gated filter: keep rows whose score column clears `minScore` —
    * trivially composable with TextAnalysis.qualityScore; exists so the
    * curation surface is enumerable as an operator. */
  def qualityGate(df: DataFrame, scoreCol: Column, minScore: Double): DataFrame =
    df.filter(scoreCol >= minScore)

  /** The retained lines of a text under the C4 line rules (Raffel et al.
    * 2020 §2.2): a line survives iff it ends in terminal punctuation
    * (`.` `!` `?` `"` — checked on the right-trimmed line), has at least
    * 3 words, and does not contain the word "javascript" (case-folded).
    * Map-side array expression — the building block [[c4Filter]] and a
    * caller-side rewrite (`concat_ws("\n", c4KeptLines(...))`) share. */
  def c4KeptLines(text: Column): Column =
    filter(split(text, "\n"), l =>
      (endswith(rtrim(l), lit(".")) || endswith(rtrim(l), lit("!")) ||
        endswith(rtrim(l), lit("?")) || endswith(rtrim(l), lit("\""))) &&
        size(split(l, " ")) >= 3 &&
        !contains(lower(l), lit("javascript")))

  /**
   * C4 corpus cleaning (Raffel et al. 2020 §2.2) as one operator: drop
   * whole documents containing "lorem ipsum" (case-folded) or a curly
   * brace (code leakage), rewrite the survivors to their [[c4KeptLines]],
   * and drop documents retaining fewer than `minLines` lines (the
   * paper's ≥-5-sentences page rule at line granularity). Entirely
   * map-side — document drops and line rewrites are one projection +
   * filter over the scan, no shuffle at any corpus size.
   */
  def c4Filter(df: DataFrame, textCol: String = "text",
               minLines: Int = 5): DataFrame = {
    require(minLines >= 0, "minLines must be non-negative")
    df.filter(!contains(lower(col(textCol)), lit("lorem ipsum")) &&
        !contains(col(textCol), lit("{")))
      .withColumn("_c4k", c4KeptLines(col(textCol)))
      .filter(size(col("_c4k")) >= minLines)
      .withColumn(textCol, concat_ws("\n", col("_c4k")))
      .drop("_c4k")
  }

  /** Benchmark DECONTAMINATION: drop corpus documents sharing ≥ `minShared`
    * distinct word n-grams with ANY benchmark document — the step that keeps
    * eval sets out of training data.
    *
    * Candidate generation is an equi-join on the 64-bit n-gram hash: the
    * shuffle carries (gram_hash, id), never gram text and never the
    * corpus × benchmark product; the benchmark side (distinct hashes of a
    * small eval set) broadcasts. A 64-bit hash collision could flag one
    * clean doc per ~10¹² distinct-gram pairs — the standard trade at corpus
    * scale, and the conservative direction (never leaks contamination). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 8, minShared: Int = 1): DataFrame = {
    // fused shingle hashing (graft.functions.ShingleHashes): identical
    // windows/separator/xxhash64 as the HOF string pipeline, but no shingle
    // string column materializes — the corpus-side scan is hash-only.
    // bGrams is BROADCAST by hint: a decontamination benchmark is an eval
    // suite, definitionally bounded-small (unlike boilerplate sets, which
    // can grow with the corpus and stay AQE-decided).
    val cGrams = corpus.select(col(idCol).as("_cid"),
      explode(graft.functions.TextHashes.shingleHashes(
        split(col(textCol), " "), n)).as("_gh"))
    val bGrams = benchmark
      .select(explode(graft.functions.TextHashes.shingleHashes(
        split(col(benchTextCol), " "), n)).as("_gh"))
      .distinct()
    val contaminated = cGrams.join(broadcast(bGrams), Seq("_gh"))
      .groupBy("_cid")
      .agg(count_distinct(col("_gh")).as("_shared"))
      .filter(col("_shared") >= minShared)
      .select(col("_cid").as(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — the audit companion to [[decontaminate]]:
    * instead of silently dropping contaminated documents, emit one row per
    * (corpus doc, benchmark doc) pair sharing ≥ `minShared` distinct
    * n-grams, with the shared-gram count — what a data audit needs to
    * answer "which eval set leaked into which documents, and how badly".
    * Same fused shingle-hash scan and broadcast bench-gram side as
    * decontaminate; the pair aggregation shuffles only matching grams
    * (contamination-sized, not corpus-sized). */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
                          benchmark: DataFrame, benchIdCol: String,
                          benchTextCol: String, n: Int = 8,
                          minShared: Int = 1): DataFrame = {
    val cGrams = corpus.select(col(idCol),
      explode(graft.functions.TextHashes.shingleHashes(
        split(col(textCol), " "), n)).as("_gh"))
    val bGrams = benchmark.select(col(benchIdCol).as("bench_id"),
      explode(graft.functions.TextHashes.shingleHashes(
        split(col(benchTextCol), " "), n)).as("_gh"))
    // hashes are distinct per document on each side, so (doc, bench, gram)
    // is unique after the join and a plain count is the distinct count
    cGrams.join(broadcast(bGrams), Seq("_gh"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** C4-style BOILERPLATE removal: any line occurring in ≥ `minDocs`
    * distinct documents (nav bars, cookie banners, footers) is stripped
    * from every document; line order inside each doc is preserved and the
    * cleaned text is reassembled on the original separator.
    *
    * Shuffle shape at 100 TB: the line-frequency aggregation carries only
    * (lineHash, docId) — never line text; the boilerplate set (lines ABOVE
    * the threshold) is usually small, so AQE broadcasts the anti-join side
    * on its own — but it is NOT hinted: a low `minDocs` over a heavily
    * duplicated corpus can make the set arbitrarily large, and a forced
    * broadcast there would OOM the driver where a shuffled anti-join is
    * fine; reassembly is one shuffle keyed on the doc id. A 64-bit line-hash
    * collision could strip one extra line per ~10¹² distinct-line pairs —
    * the conservative direction for training data (never keeps boilerplate).
    * Documents whose every line is boilerplate come back with empty text. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val sepPat = java.util.regex.Pattern.quote(sep)
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), sepPat)).as(Seq("_pos", "_line")))
      .withColumn("_lh", xxhash64(col("_line")))
    val boiler = lines.groupBy("_lh")
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDocs)
      .select("_lh")
    val kept = lines.join(boiler, Seq("_lh"), "left_anti")
    val cleaned = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_line")))),
        x => x.getField("_line")), sep).as("_clean"))
    df.drop(textCol)
      .join(cleaned, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("_clean"), lit("")))
      .drop("_clean")
  }

  /** CHUNKING for context windows: split each document into single-space-
    * delimited token windows of `chunkTokens` tokens starting every `stride`
    * tokens (stride < chunkTokens ⇒ overlapping chunks). Pure map-side HOFs
    * over the scan — rows explode, bytes stay linear in (overlap factor ×
    * input). Output: (idCol, chunk_idx, n_tokens, chunk_text); the final
    * chunk may be short (documents are never padded). Empty documents yield
    * NO chunks: split("") returns [""], which would otherwise surface as a
    * phantom 1-token empty chunk inflating downstream pack budgets. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    df.withColumn("_w", split(col(textCol), " "))
      .filter(!(size(col("_w")) === 1 && element_at(col("_w"), 1) === ""))
      .select(col(idCol), col("_w"),
        posexplode(sequence(lit(0), greatest(size(col("_w")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "_s")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        least(size(col("_w")) - col("_s"), lit(chunkTokens))
          .cast("long").as("n_tokens"),
        array_join(slice(col("_w"), col("_s") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Sequence PACKING: assign ordered chunks to consecutive packs by token
    * budget — chunk → pack `floor(prefixTokensBefore / budget)`, so every
    * pack holds ≥ budget tokens only through its single straddling chunk
    * (pack sum < budget + max chunk size). Boundary packing is the
    * closed-form variant of greedy fill: deterministic for a given total
    * order, independent of partitioning, and — unlike first-fit — computable
    * without a sequential pass over 100 TB.
    *
    * The prefix sum is two-level so no global window touches the data:
    * a per-bucket cumulative sum (parallel over `bucketCol`) plus bucket
    * offsets from a window over ONE ROW PER BUCKET (metadata scale, like
    * centroid ranking). `bucketCol` must be a coarsening of the leading
    * `orderCols` (e.g. `doc_id div 64` when ordering by (doc_id, chunk_idx))
    * so bucket order and row order agree — VALIDATED at run time: per-bucket
    * [min,max] ranges of the leading order column must be strictly
    * non-overlapping in bucket order (checked on the one-row-per-bucket
    * metadata, so the guard costs one lag() over rows already aggregated);
    * a hash-style bucket fails with a clear error instead of silently
    * misassigning packs. */
  def packByBudget(df: DataFrame, bucketCol: Column, orderCols: Seq[String],
                   tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(orderCols.nonEmpty, "orderCols must name a total order")
    val withB = df.withColumn("_bkt", bucketCol)
    val wLocal = Window.partitionBy("_bkt")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn("_before",
      coalesce(sum(col(tokensCol)).over(wLocal), lit(0L)))
    // partitionBy(lit(0)): same single-partition semantics over the
    // metadata-sized bucket summary (≤ ~4096 rows), but an EXPLICIT
    // partition spec — no WindowExec "no partition defined" warning, and
    // the plan-pin spec can assert every Window carries a partition spec.
    val wBuckets = Window.partitionBy(lit(0)).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lead = col(orderCols.head)
    val offsets = withB.groupBy("_bkt")
      .agg(sum(col(tokensCol)).as("_btot"),
        min(lead).as("_omin"), max(lead).as("_omax"))
      .withColumn("_boff", coalesce(sum("_btot").over(wBuckets), lit(0L)))
      // bucket-ordering precondition: the previous bucket's max leading
      // order value must sit strictly below this bucket's min (ties ACROSS
      // buckets are ambiguous too — the in-bucket tie-breakers cannot order
      // rows that landed in different buckets). assert_true throws when the
      // offsets materialize, with the offending boundary in the message.
      .withColumn("_chk", {
        val prevMax =
          lag(col("_omax"), 1).over(Window.partitionBy(lit(0)).orderBy("_bkt"))
        assert_true(prevMax.isNull || prevMax < col("_omin"),
          concat(lit("packByBudget: bucketCol is not a coarsening of the " +
            s"leading order column '${orderCols.head}' — bucket "),
            col("_bkt").cast("string"), lit(" starts at "),
            col("_omin").cast("string"),
            lit(" but an earlier bucket reaches "), prevMax.cast("string")))
      })
      .select(col("_bkt"),
        (col("_boff") + coalesce(col("_chk").cast("long"), lit(0L))).as("_boff"))
    local.join(broadcast(offsets), Seq("_bkt"))
      // integral `div`, not floor(double /): exact past 2^53 total tokens
      .withColumn("pack_id", expr(s"(_before + _boff) div ${budget}L"))
      .drop("_bkt", "_before")
      .drop("_boff")
  }

  /**
   * Scale-correct GLOBAL 0-based rank in `(keyCol, tieCol)` order within
   * each `partCols` group (empty `partCols` = one global order), WITHOUT a
   * single-partition window: rows are range-bucketed by the leading hex
   * chars of `keyCol` (a prefix of the sort order, so bucket order and key
   * order agree by construction — no runtime guard needed, unlike
   * [[packByBudget]]'s caller-supplied buckets), ranked per (part, bucket)
   * with an ordinary partitioned window, then shifted by per-bucket offsets
   * computed from ONE ROW PER (part, bucket) — metadata scale. The window
   * fan-out is `buckets` per group, so no executor ever sorts more than
   * ~corpus/buckets rows: the shape that survives 100 TB, where a global
   * `row_number() OVER (ORDER BY …)` would serialize the corpus through
   * one task.
   *
   * `keyCol` must be a lowercase-hex string (md5 output); `tieCol` breaks
   * exact key collisions deterministically.
   */
  /** Null-safe broadcast equi-join on (partCols, _rbkt): partition
    * columns may legitimately be NULL (a NULL domain is a real group —
    * the windows and aggregations above all key it), and a plain
    * equi-join would silently drop those rows. */
  private def joinOffsets(left: DataFrame, offsets: DataFrame,
                          partCols: Seq[String]): DataFrame = {
    val renamed = partCols.foldLeft(
        offsets.withColumnRenamed("_rbkt", "__o_rbkt"))(
      (d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val cond = partCols.foldLeft(col("_rbkt") === col("__o_rbkt"))(
      (acc, c) => acc && (col(c) <=> col(s"__o_$c")))
    partCols.foldLeft(
        left.join(broadcast(renamed), cond).drop("__o_rbkt"))(
      (d, c) => d.drop(s"__o_$c"))
  }

  def scalableRank(df: DataFrame, partCols: Seq[String], keyCol: String,
                   tieCol: String, hexPrefix: Int = 3): DataFrame = {
    require(hexPrefix >= 1 && hexPrefix <= 8, "hexPrefix in [1,8]")
    val bkt = conv(substring(col(keyCol), 1, hexPrefix), 16, 10).cast("long")
    // the rank window and the offsets aggregate both consume the keyed input
    val withB = Pin.reuse(df.withColumn("_rbkt", bkt))
    val pcols = partCols.map(col)
    val wLocal = Window.partitionBy((pcols :+ col("_rbkt")): _*)
      .orderBy(col(keyCol).asc, col(tieCol).asc)
    val wOff = (if (partCols.isEmpty) Window.partitionBy(lit(0))
                else Window.partitionBy(pcols: _*))
      .orderBy(col("_rbkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy((pcols :+ col("_rbkt")): _*)
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_boff", coalesce(sum("_bn").over(wOff), lit(0L)))
      .select((pcols :+ col("_rbkt") :+ col("_boff")): _*)
    joinOffsets(withB
        .withColumn("_lrn", row_number().over(wLocal).cast("long") - 1L),
        offsets, partCols)
      .withColumn("_rank", col("_boff") + col("_lrn"))
      .drop("_rbkt", "_lrn", "_boff")
  }

  /** Scale-correct global 0-based RANK for an ARBITRARY total order —
    * the sibling of [[scalableRank]] for keys that are NOT md5-uniform
    * (e.g. model scores, importance weights, any skewed numeric).
    * [[scalableRank]] buckets by hex prefix, which assumes the key is
    * uniform; here the engine's own `repartitionByRange` SAMPLES the key
    * distribution (Spark's RangePartitioner — the same machinery behind
    * a global sort) and `spark_partition_id` becomes the range bucket:
    * per-bucket window rank + metadata-sized bucket offsets, never a
    * single-partition window. The rank is independent of the sampled
    * boundaries as long as `order` is a TOTAL order (include a unique
    * tiebreaker): boundaries only move rows between buckets, and the
    * offset accounting is exact either way. Adds `_rank`. */
  def rankBySort(df: DataFrame, order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "rankBySort needs at least one sort expression")
    // eager local checkpoint: `spark_partition_id` is NOT a pure function
    // of the row, and this frame has two consumers (offset aggregate +
    // windowed local rank) — without the pin, offset+rank correctness
    // would silently ride on exchange reuse deduplicating the two
    // subplans (an optimizer behavior, not a contract; a re-evaluated
    // RangePartitioner may even sample different boundaries). Callers
    // should project to rank-relevant columns first to keep the
    // checkpointed copy narrow.
    val parts = df.repartitionByRange(order: _*)
      .withColumn("_rbkt", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    val wLocal = Window.partitionBy(col("_rbkt")).orderBy(order: _*)
    val wOff = Window.partitionBy(lit(0)).orderBy(col("_rbkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy("_rbkt").agg(count(lit(1)).as("_bn"))
      .withColumn("_boff", coalesce(sum("_bn").over(wOff), lit(0L)))
      .select(col("_rbkt").as("__o_rbkt"), col("_boff"))
    parts
      .withColumn("_lrn", row_number().over(wLocal).cast("long") - 1L)
      .join(broadcast(offsets), col("_rbkt") === col("__o_rbkt"))
      .withColumn("_rank", col("_boff") + col("_lrn"))
      .drop("_rbkt", "__o_rbkt", "_lrn", "_boff")
  }

  /** Scale-correct EXCLUSIVE PREFIX SUM of `weightCol` in `(keyCol,
    * tieCol)` order within each `partCols` group — the weighted
    * generalization of [[scalableRank]] (same bucketed two-phase shape:
    * hex-prefix range buckets of the md5 key, per-bucket windows, offsets
    * from ONE ROW PER (part, bucket)). Adds `_cumBefore`. */
  def scalablePrefixSum(df: DataFrame, partCols: Seq[String], keyCol: String,
                        tieCol: String, weightCol: String,
                        hexPrefix: Int = 3): DataFrame = {
    require(hexPrefix >= 1 && hexPrefix <= 8, "hexPrefix in [1,8]")
    val bkt = conv(substring(col(keyCol), 1, hexPrefix), 16, 10).cast("long")
    // same two-consumer shape as scalableRank
    val withB = Pin.reuse(df.withColumn("_rbkt", bkt)
      .withColumn("_w", col(weightCol).cast("long")))
    val pcols = partCols.map(col)
    val wLocal = Window.partitionBy((pcols :+ col("_rbkt")): _*)
      .orderBy(col(keyCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = (if (partCols.isEmpty) Window.partitionBy(lit(0))
                else Window.partitionBy(pcols: _*))
      .orderBy(col("_rbkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy((pcols :+ col("_rbkt")): _*)
      .agg(sum(col("_w")).as("_bn"))
      .withColumn("_boff", coalesce(sum("_bn").over(wOff), lit(0L)))
      .select((pcols :+ col("_rbkt") :+ col("_boff")): _*)
    joinOffsets(withB
        .withColumn("_lb", coalesce(sum(col("_w")).over(wLocal), lit(0L))),
        offsets, partCols)
      .withColumn("_cumBefore", col("_boff") + col("_lb"))
      .drop("_rbkt", "_w", "_lb", "_boff")
  }

  /**
   * TOKEN-BUDGET DOMAIN MIXING — [[domainMix]] with quotas in TOKENS, the
   * unit mixture recipes are actually specified in: per-domain token
   * quota `q_s = (targetTokens · floor(sqrt(n_tokens_s))) div Σw` (pure
   * BIGINT, integerized α=0.5 over TOKEN counts), then keep each domain's
   * documents in md5 order while the domain's token prefix-sum stays
   * under the quota (a document straddling the boundary is kept — quotas
   * are met-or-barely-exceeded, never starved by a huge head document).
   * Deterministic and engine-reproducible like its row-quota sibling.
   */
  def domainMixTokens(df: DataFrame, idCol: String, domainCol: String,
                      weightCol: String, targetTokens: Long,
                      seed: String): DataFrame = {
    require(targetTokens >= 0, "targetTokens must be non-negative")
    val counts = df.groupBy(col(domainCol))
      .agg(sum(col(weightCol).cast("long")).as("_n"))
      .withColumn("_dw", floor(sqrt(col("_n"))).cast("long"))
    val totW = counts.agg(sum("_dw").as("_sw"))
    val quotas = counts.crossJoin(broadcast(totW))
      .withColumn("_quota", expr(s"(${targetTokens}L * _dw) div _sw"))
      .select(col(domainCol), col("_quota"))
    val keyed = df.withColumn("_mk",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    scalablePrefixSum(keyed, Seq(domainCol), "_mk", idCol, weightCol)
      // null-safe: a NULL domain is a legitimate group (both the quota agg
      // and the prefix sum keyed it); a plain equi-join would silently
      // drop its documents from the mix
      .join(broadcast(quotas.withColumnRenamed(domainCol, "__qdom")),
        col(domainCol) <=> col("__qdom"))
      .drop("__qdom")
      .filter(col("_cumBefore") < col("_quota"))
      .drop("_mk", "_cumBefore", "_quota")
  }

  /**
   * EPOCH-AWARE DOMAIN MIXING — the data-recipe move mixture papers
   * actually ship: a domain whose temperature share EXCEEDS its size is
   * REPEATED up to `maxEpochs` times instead of silently starving the
   * budget (the "Wikipedia × 4 epochs" pattern). [[domainMixTokens]]
   * caps every domain at one pass; this variant emits full-corpus copies
   * plus one md5-ordered partial epoch, each row tagged with its 0-based
   * `epoch`.
   *
   * Per domain, pure BIGINT end to end (bit-reproducible by any engine):
   * `n_s = Σ tokens`, `w_s = floor(sqrt(n_s))` (exact on IEEE doubles),
   * `ideal_s = (targetTokens · w_s) div Σw`,
   * `quota_s = min(ideal_s, n_s · maxEpochs)`,
   * `fullEpochs_s = quota_s div n_s`, `rem_s = quota_s mod n_s`.
   * Output = every document at epochs `0 .. fullEpochs_s-1`, plus the
   * partial epoch `fullEpochs_s`: documents in md5 order while the token
   * prefix-sum stays under `rem_s` (a straddling document is kept —
   * met-or-barely-exceeded, same convention as [[domainMixTokens]]).
   * Zero-token domains contribute nothing. The total may undershoot
   * `targetTokens` when domains cap out at `maxEpochs` — single-pass by
   * design (published recipes fix per-domain epoch counts rather than
   * re-flowing leftover budget).
   *
   * 100-TB shape: the quota table is one row per domain (broadcast); the
   * prefix-sum is the bucketed two-phase [[scalablePrefixSum]]; full
   * epochs are a map-side `explode(sequence)` — no shuffle grows with
   * `maxEpochs`, only output rows.
   */
  def domainMixEpochs(df: DataFrame, idCol: String, domainCol: String,
                      weightCol: String, targetTokens: Long,
                      maxEpochs: Int, seed: String): DataFrame = {
    require(targetTokens >= 0, "targetTokens must be non-negative")
    require(maxEpochs >= 1, "maxEpochs must be at least 1")
    val counts = df.groupBy(col(domainCol))
      .agg(sum(col(weightCol).cast("long")).as("_n"))
      .withColumn("_dw", floor(sqrt(col("_n"))).cast("long"))
    val totW = counts.agg(sum("_dw").as("_sw"))
    val quotas = counts.crossJoin(broadcast(totW))
      .withColumn("_ideal",
        when(col("_sw") > 0, expr(s"(${targetTokens}L * _dw) div _sw"))
          .otherwise(lit(0L)))
      .withColumn("_quota",
        least(col("_ideal"), col("_n") * lit(maxEpochs.toLong)))
      .withColumn("_full",
        when(col("_n") > 0, expr("_quota div _n")).otherwise(lit(0L)))
      .withColumn("_rem", col("_quota") - col("_full") * col("_n"))
      .select(col(domainCol), col("_full"), col("_rem"))
    val keyed = df.withColumn("_mk",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    val pre = scalablePrefixSum(keyed, Seq(domainCol), "_mk", idCol,
        weightCol)
      // null-safe: a NULL domain is a legitimate group (both the quota agg
      // and the prefix sum keyed it); a plain equi-join would silently
      // drop its documents from the mix
      .join(broadcast(quotas.withColumnRenamed(domainCol, "__qdom")),
        col(domainCol) <=> col("__qdom"))
      .drop("__qdom")
    val full = pre.filter(col("_full") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("_full") - 1L)))
      .withColumn("epoch", col("epoch").cast("int"))
    val partial = pre.filter(col("_cumBefore") < col("_rem"))
      .withColumn("epoch", col("_full").cast("int"))
    full.unionByName(partial)
      .drop("_mk", "_cumBefore", "_full", "_rem")
  }

  /**
   * TRAINING-SHARD EXPORT: the last-mile operator between a curated corpus
   * and a training run — a deterministic global shuffle (order by
   * `md5(seed ‖ id)`) dealt round-robin into `numShards` EXACTLY balanced
   * shards (sizes differ by at most 1). Output adds `shard` (0-based) and
   * `pos` (0-based position within the shard); the same (corpus, seed)
   * reproduces the same shards on any cluster layout — the property that
   * makes a training run resumable and its data order auditable.
   * `idCol` must be unique: duplicate ids share a sort key AND its
   * tie-break, leaving their relative positions layout-dependent.
   *
   * Scale shape: one [[scalableRank]] pass (bucketed windows + a
   * metadata-size offset join) — the cost class of a global sort, which is
   * the floor for any true global shuffle. Round-robin dealing off the
   * rank (`shard = rank % n`, `pos = rank div n`) is exact balance with
   * zero extra passes, unlike hash-mod sharding (multinomial imbalance)
   * or repartition(n) (layout-dependent, not reproducible).
   */
  def shardForTraining(df: DataFrame, idCol: String, numShards: Int,
                       seed: String): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val keyed = df.withColumn("_sk",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    scalableRank(keyed, Seq.empty, "_sk", idCol)
      .withColumn("shard", (col("_rank") % numShards).cast("int"))
      .withColumn("pos", expr(s"_rank div ${numShards}L"))
      .drop("_sk", "_rank")
  }

  /**
   * TOKEN-BUDGET-BALANCED sharding: like [[shardForTraining]] but balancing
   * each shard's total WEIGHT (token count) instead of its row count — what
   * a training run actually wants when document lengths vary by orders of
   * magnitude. Documents are laid on the deterministic md5 order (a random
   * permutation, so contiguous chunks are unbiased samples), the weight
   * prefix-sum is computed with the same bucketed two-phase shape as
   * [[scalableRank]] (bounded windows + one-row-per-bucket offsets — no
   * single-partition window), and `shard = (prefixBefore · n) div total`
   * in pure BIGINT arithmetic — reproducible bit-for-bit by any engine.
   *
   * Balance bound: every shard's weight is within (max single document
   * weight) of `total/n` — the best any contiguous assignment can
   * guarantee without splitting documents.
   */
  def shardByTokenBudget(df: DataFrame, idCol: String, weightCol: String,
                         numShards: Int, seed: String): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val keyed = df.withColumn("_sk",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    val total = keyed
      .agg(greatest(sum(col(weightCol).cast("long")), lit(1L)).as("_tot"))
    scalablePrefixSum(keyed, Seq.empty, "_sk", idCol, weightCol)
      .crossJoin(broadcast(total))
      .withColumn("shard",
        least(lit(numShards - 1),
          expr(s"(_cumBefore * ${numShards}L) div _tot")).cast("int"))
      .drop("_sk", "_cumBefore", "_tot")
  }


  /**
   * TENSOR-READY SEQUENCE PACKING (the GPT pre-training "concat and
   * chunk" move): append an EOS id to every document's token-id array,
   * concatenate the corpus in `idCol` order into one logical token
   * stream, and cut it into consecutive sequences of exactly `seqLen`
   * ids (the final sequence may be short; documents are never padded,
   * and a document can span a sequence boundary — the training-time
   * norm). Output: `(seq_id, token_ids)` with `seq_id` 0-based in stream
   * order.
   *
   * Scale shape: the per-document stream offsets come from a bucketed
   * two-phase prefix sum (value-range buckets on the numeric `idCol` —
   * order-consistent by construction; per-bucket windows + one row per
   * bucket of offsets), then tokens explode with a global index and
   * regroup by `seq_id` — every group is ≤ seqLen ids, so no unbounded
   * collect_list. Deterministic on any layout: every number is integer
   * arithmetic on (id, position).
   *
   * `idCol` must be unique integers (the document order key).
   */
  def packTokenSequences(df: DataFrame, idCol: String, tokensCol: String,
                         seqLen: Int, eosId: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // three consumers (bounds probe, bucket offsets, window+explode) would
    // each re-run the upstream tokenization; the bounds head() below
    // materializes the lazy pin as part of the action it already pays
    val docs = Pin.reuse(
      df.select(col(idCol).try_cast("long").as("_did"),
        concat(col(tokensCol).cast("array<long>"),
          array(lit(eosId))).as("_t"))
      .withColumn("_n", size(col("_t")).cast("long")))
    // Contract check in the SAME pass as the range probe: a null or
    // non-numeric id would fall out of the bucket equi-join and silently
    // drop its document from the packed output — fail loudly instead
    // (try_cast maps malformed ids to null so THIS check owns the error,
    // uniformly for nulls and garbage, instead of an ANSI task failure).
    // count(_did) < count(*) ⟺ some id was null or didn't cast to long.
    val b = docs.agg(min(col("_did")).as("lo"), max(col("_did")).as("hi"),
      count(lit(1)).as("n"), count(col("_did")).as("nid")).head()
    require(b.getLong(2) == b.getLong(3),
      s"packTokenSequences: idCol '$idCol' has ${b.getLong(2) - b.getLong(3)} " +
        "null/non-numeric values — the contract requires unique integer ids " +
        "(documents with unparseable ids would silently vanish from the pack)")
    if (b.isNullAt(0))
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("seq_id"),
          lit(Array.empty[Long]).as("token_ids")).limit(0)
    val lo = b.getLong(0); val hi = b.getLong(1)
    // value-range buckets: width chosen so ~1024 buckets span the id range
    // (dense ids ⇒ even buckets); integer division keeps bucket order ==
    // id order exactly
    val width = math.max(1L, (hi - lo) / 1024L + 1L)
    val withB = docs.withColumn("_pbkt",
      expr(s"(_did - ${lo}L) div ${width}L"))
    val wLocal = Window.partitionBy(col("_pbkt")).orderBy(col("_did").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(lit(0)).orderBy(col("_pbkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col("_pbkt"))
      .agg(sum(col("_n")).as("_bn"))
      .withColumn("_boff", coalesce(sum("_bn").over(wOff), lit(0L)))
      .select(col("_pbkt"), col("_boff"))
    withB
      .withColumn("_lb", coalesce(sum(col("_n")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("_pbkt"))
      .select((col("_boff") + col("_lb")).as("_start"),
        posexplode(col("_t")).as(Seq("_pos", "_id")))
      .withColumn("_g", col("_start") + col("_pos"))
      .withColumn("seq_id", expr(s"_g div ${seqLen}L"))
      .groupBy("seq_id")
      .agg(transform(array_sort(collect_list(struct(col("_g"), col("_id")))),
        x => x.getField("_id")).as("token_ids"))
  }

  /** Physically export [[shardForTraining]]'s assignment as one directory
    * per shard (`shard=K/`), rows ordered by `pos` within each shard file
    * — the layout a data loader streams sequentially. One shuffle
    * (repartition by shard) + in-partition sort; no global sort, no
    * driver involvement. Returns the per-shard MANIFEST (shard, n_rows,
    * min/max pos) — the auditable record a training run stores next to
    * its config (the assignment is checkpointed once, so the summary
    * costs one metadata-size aggregate, not a second rank pass). */
  def exportShards(df: DataFrame, idCol: String, numShards: Int,
                   seed: String, outDir: String): DataFrame = {
    val sharded = shardForTraining(df, idCol, numShards, seed)
      .localCheckpoint(true)
    sharded
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("pos").as("min_pos"), max("pos").as("max_pos"))
      .orderBy("shard")
  }

  /**
   * TEMPERATURE-BASED DOMAIN MIXING (the multilingual-corpus recipe:
   * sample domain s proportionally to `n_s^α`, α<1 upweighting rare
   * domains): keep a per-domain QUOTA of rows, chosen as the smallest
   * `md5(seed ‖ id)` keys within the domain — deterministic, exactly
   * sized, reproducible across engines and layouts.
   *
   * Quotas use INTEGER-EXACT arithmetic so an external engine reproduces
   * them bit-for-bit: weight `w_s = floor(sqrt(n_s))` (integerized α=0.5 —
   * `floor∘sqrt` is exact on IEEE doubles for any count that fits a long,
   * since sqrt is correctly rounded and perfect squares are exact), quota
   * `q_s = min(n_s, (target · w_s) div Σw)` in pure BIGINT arithmetic —
   * no cross-engine float summation anywhere.
   *
   * `targetRows` is the requested TOTAL; integer flooring may undershoot
   * by < #domains rows (never overshoots). Selection within a domain uses
   * [[scalableRank]] partitioned by the domain — bounded window fan-out,
   * no whole-domain single-partition sort even when one domain dominates
   * the corpus.
   */
  def domainMix(df: DataFrame, idCol: String, domainCol: String,
                targetRows: Long, seed: String): DataFrame = {
    require(targetRows >= 0, "targetRows must be non-negative")
    val counts = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_w", floor(sqrt(col("_n"))).cast("long"))
    val totW = counts.agg(sum("_w").as("_sw"))
    val quotas = counts.crossJoin(broadcast(totW))
      .withColumn("_quota",
        least(col("_n"), expr(s"(${targetRows}L * _w) div _sw")))
      .select(col(domainCol), col("_quota"))
    val keyed = df.withColumn("_mk",
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))))
    scalableRank(keyed, Seq(domainCol), "_mk", idCol)
      // null-safe: a NULL domain is a legitimate group (both the quota agg
      // and the prefix sum keyed it); a plain equi-join would silently
      // drop its documents from the mix
      .join(broadcast(quotas.withColumnRenamed(domainCol, "__qdom")),
        col(domainCol) <=> col("__qdom"))
      .drop("__qdom")
      .filter(col("_rank") < col("_quota"))
      .drop("_mk", "_rank", "_quota")
  }
}
