package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Distances

/**
 * Deduplication operators for training-data pipelines, each designed for the
 * 100 TB shape:
 *
 *  - exact:       one hash-shuffle on a 16-byte digest (never on raw text).
 *  - minhash LSH: signatures computed map-side (k hashes over shingles as
 *                 column expressions, no UDF); candidate generation is an
 *                 equi-join on (band, bandHash) — a key-partitioned shuffle
 *                 whose width is bounded by band collision rate, never the
 *                 O(n²) cross join.
 *  - simhash:     64-bit signature map-side; candidates via banded chunks
 *                 (pigeonhole: hamming ≤ d pairs share ≥ one of d+1 chunks).
 *  - n-gram jaccard: exact verifier — only ever run on a candidate set or a
 *                 bounded slice, not the full corpus.
 *  - embedding cosine: codegen'd cosine over a blocked candidate join.
 */
object Dedup {

  // NOTE (r14 optimization round): the span/line keep-first winner
  // elections below deliberately KEEP the `min(struct(id, pos, h2))`
  // SortAggregate form. A packed-key HashAggregate rewrite
  // (`min(id·2³² + pos)` as DECIMAL + `min_by(h2, pack)`) was implemented,
  // value-parity-pinned, and measured: 0.72× at sf0.1 — but 1.4–1.7×
  // SLOWER at sf1 (span_dedup 4.2→7.0 s isolated, calibration-matched).
  // Window/line hashes are mostly UNIQUE keys, so the partial hash map
  // gets no combine benefit, outgrows aggregation memory at scale, and
  // falls back to hash-then-sort — strictly worse than sorting once. The
  // same packed-key election IS right where combine collapses the input
  // (ivfAssign/pqEncode: n×C candidates → n winners); cardinality profile
  // decides, not the operator shape.

  /** Exact dedup, keep-first: content-hash shuffle, row_number == 1.
    * At scale the shuffle key is md5(text) (fixed 16 bytes), so text skew
    * doesn't produce key skew beyond true duplicate mass. */
  def exactKeepFirst(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(orderCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /**
   * CORPUS-WIDE LINE-LEVEL DEDUP, keep-first (the RefinedWeb/CCNet move:
   * a line repeated anywhere in the corpus — nav bars, cookie banners,
   * license footers — survives only at its FIRST occurrence in
   * `(idCol, line position)` order; later occurrences are stripped from
   * their documents). Differs from [[Curation.removeBoilerplateLines]],
   * which drops EVERY occurrence of a line seen in ≥ minDocs documents:
   * keep-first preserves one canonical copy, so no content is lost — only
   * repetition.
   *
   * Lines shorter than `minChars` are exempt (always kept): deduping ""
   * or "—" corpus-wide would shred unrelated documents, and real
   * pipelines only dedup lines long enough to be meaningful content.
   *
   * Scale shape: explode → hash-keyed winner aggregate (`min(struct(id,
   * pos))` — one shuffle on the 8-byte line hash, combiner-friendly, no
   * window over the whole corpus) → hash join back → per-document
   * reassembly groupBy. Bytes stay linear in corpus size; skew on a
   * mega-duplicated line is absorbed by the map-side partial min.
   * Documents whose every line is stripped come back as "" (same
   * convention as removeBoilerplateLines).
   */
  def dedupLinesKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          minChars: Int = 5, sep: String = "\n"): DataFrame = {
    val sepPat = java.util.regex.Pattern.quote(sep)
    // Line identity is 128 effective bits: the shuffle key `_lh` plus an
    // independently-salted verifier hash `_lh2` carried through the winner
    // struct. At corpus scale (billions of distinct lines) 64-bit birthday
    // collisions are EXPECTED (~50% at ~5e9 lines); on a collision the
    // verifier mismatches and the losing line is KEPT (degrades to a
    // retained duplicate) instead of silently deleted from its document.
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), sepPat)).as(Seq("_pos", "_line")))
      .withColumn("_lh", xxhash64(col("_line")))
      .withColumn("_lh2", xxhash64(lit("graft-line-v1"), col("_line")))
    val firsts = lines
      .filter(length(col("_line")) >= minChars)
      .groupBy("_lh")
      .agg(min(struct(col(idCol).as("_fid"), col("_pos").as("_fpos"),
        col("_lh2").as("_fh2"))).as("_first"))
    val kept = lines.join(firsts, Seq("_lh"), "left")
      .filter(length(col("_line")) < minChars ||
        col("_first._fh2") =!= col("_lh2") ||
        (col("_first._fid") === col(idCol) && col("_first._fpos") === col("_pos")))
    reassembleText(df, idCol, textCol, kept, "_pos", "_line", sep)
  }

  /**
   * Per-document SPAN-DUPLICATION statistics — the measurement pass run
   * before (or instead of) [[dedupSpansKeepFirst]]: for each document,
   * how many of its tokens sit under a window of `spanTokens` tokens
   * that occurs more than once corpus-wide (BOTH copies count — this
   * measures duplicated text MASS, the "fraction of tokens in duplicated
   * 50-grams" number the ExactSubstr paper reports per corpus), plus the
   * 6-dp fraction. Same window pass and shuffle shape as the removal
   * operator; duplicated-window identity is the full (h1, h2) pair (128
   * bits), so collisions can't inflate the count.
   *
   * Returns (idCol, n_tokens, dup_tokens, dup_frac); documents shorter
   * than `spanTokens` tokens report 0 dup_tokens by construction.
   */
  def spanDuplicationStats(df: DataFrame, idCol: String, textCol: String,
                           spanTokens: Int = 50,
                           stride: Int = 1): DataFrame = {
    require(spanTokens > 0 && stride > 0,
      "spanTokens and stride must be positive")
    val base = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
    // `wins` feeds the duplicated-window count and the covered join
    val wins = Pin.offload(base
      .select(col(idCol),
        posexplode(graft.functions.TextHashes.windowHashPairs(
          col("_toks"), spanTokens, stride)).as(Seq("_widx", "_hp")))
      .select(col(idCol), (col("_widx") * stride).as("_wp"),
        col("_hp.h1").as("_wh"), col("_hp.h2").as("_wh2")))
    val dupWins = wins.groupBy("_wh", "_wh2")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= 2)
      .select("_wh", "_wh2")
    val covered = wins.join(dupWins, Seq("_wh", "_wh2"))
      .select(col(idCol),
        explode(sequence(col("_wp"), col("_wp") + (spanTokens - 1))).as("_tp"))
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_tokens"))
    // size(NULL) is -1 under legacy sizeOfNull: a null text reports 0
    // tokens, matching the reassembly operators' empty-string convention
    base.select(col(idCol),
        when(col("_toks").isNull, lit(0L))
          .otherwise(size(col("_toks")).cast("long")).as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac", round(col("dup_tokens").cast("double")
        / greatest(col("n_tokens"), lit(1L)), 6))
  }

  /**
   * Batch-vs-corpus span probe: for each `incoming` row, how many of its
   * tokens sit under a `spanTokens`-token window whose (h1, h2) pair
   * appears in `corpusWins` — the kernel behind
   * `graft.api.Table.probeDupSpans` (which feeds it the persisted span
   * index) and directly usable against any precomputed window table.
   * Returns (idCol, n_tokens, dup_tokens, dup_frac) for every incoming
   * row; null text counts 0 tokens.
   *
   * Scale shape: the incoming batch's windows derive map-side and
   * BROADCAST against the corpus window table (batch ≪ corpus at
   * ingest); matches collapse to the batch's window set BEFORE the
   * k-way position explode, so a corpus window duplicated C times costs
   * nothing extra. The hint is GUARDED: `CALL span_probe` feeds this an
   * arbitrary user candidates table, and at stride 1 the exploded window
   * set is ~28 bytes per batch TOKEN — a large batch would blow the
   * broadcast limit or OOM the driver. Above a plan-stats size cutoff on
   * the un-exploded batch the hint is dropped and the probe degrades to
   * a plain hash equi-join (AQE may still broadcast if the exploded side
   * turns out small). Plan-time statistics only; no job is run.
   */
  def spanProbeStats(incoming: DataFrame, idCol: String, textCol: String,
                     corpusWins: DataFrame, spanTokens: Int,
                     stride: Int = 1): DataFrame = {
    require(spanTokens > 0 && stride > 0,
      "spanTokens and stride must be positive")
    val q = incoming
      .select(col(idCol).as("__q_id"),
        posexplode(graft.functions.TextHashes.windowHashPairs(
          split(col(textCol), " "), spanTokens, stride))
          .as(Seq("_widx", "_hp")))
      .select(col("__q_id"), (col("_widx") * stride).as("wp"),
        col("_hp.h1").as("h1"), col("_hp.h2").as("h2"))
    // ~64 MB of batch text → ≲ a few hundred MB of exploded windows: safe
    // to broadcast; beyond that, let the planner shuffle
    val qHinted =
      if (incoming.queryExecution.optimizedPlan.stats.sizeInBytes
          < BigInt(64L << 20)) broadcast(q)
      else q
    val matched = corpusWins.select("h1", "h2")
      .join(qHinted, Seq("h1", "h2"))
      .select("__q_id", "wp").dropDuplicates("__q_id", "wp")
      .select(col("__q_id"),
        explode(sequence(col("wp"), col("wp") + (spanTokens - 1))).as("_tp"))
      .distinct()
      .groupBy("__q_id").agg(count(lit(1)).as("dup_tokens"))
    incoming
      .select(col(idCol).as("__q_id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), " ")).cast("long"))
          .as("n_tokens"))
      .join(matched, Seq("__q_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac", round(col("dup_tokens").cast("double")
        / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumnRenamed("__q_id", idCol)
  }

  /** Shared keep-first finish: reassemble per-document text from the kept
    * (id, position, piece) rows in position order and join it back onto
    * `df` — a document whose every piece was cut comes back as "" (the
    * degrade convention the line- and span-level keep-first operators
    * share; a change here changes BOTH). */
  private def reassembleText(df: DataFrame, idCol: String, textCol: String,
                             kept: DataFrame, posCol: String,
                             pieceCol: String, sep: String): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(posCol), col(pieceCol)))),
        x => x.getField(pieceCol)), sep).as("_clean"))
    df.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("_clean"), lit("")))
      .drop("_clean")
  }

  /** Word n-gram shingles of size `n` as an array column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** k-permutation minhash signature (array<long> of length k) over a
    * shingle-array column — native expression (graft.functions.MinHashSignature);
    * the equivalent higher-order-function formulation costs µs per lambda
    * invocation interpreted, a ~100× slowdown at corpus scale. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.TextHashes.minhashSignature(shingleCol, k)

  /** Estimated jaccard from two signatures: matching-position fraction.
    * Native position-match count (graft.functions.SignatureMatchCount) — the
    * HOF form (`zip_with` + `aggregate`) costs ~2k interpreted lambda calls
    * per candidate pair, which made the LSH verifier the bench bottleneck. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    round(graft.functions.TextHashes.signatureMatchCount(sigA, sigB)
      .cast("double") / k, 6)

  /**
   * MinHash + LSH near-duplicate pairs.
   * bands·rowsPerBand must equal k. Returns (idA, idB, est_jaccard) with
   * idA < idB and est_jaccard ≥ threshold.
   */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
                   shingleN: Int = 3): DataFrame =
    minhashPairsFromSigs(df.select(col(idCol).as("id"),
      graft.functions.TextHashes.minhashFromTokens(
        split(col(textCol), " "), k, shingleN).as("sig")), k, bands, threshold)

  /** Same LSH pipeline from a PRECOMPUTED signature table (id, sig) — the
    * path the persisted dedup index (`Table.dedupMinhashPairs`) takes, so a
    * 100 TB corpus computes signatures once, not per dedup run. */
  def minhashPairsFromSigs(sigsIn: DataFrame, k: Int, bands: Int,
                           threshold: Double): DataFrame = {
    val sigs = Pin.offload(sigsIn) // reused in 3 joins
    minhashMatches(sigs, sigs, k, bands, threshold, samePairSet = true)
  }

  /** ONE implementation of LSH banding + candidate join + est-jaccard
    * verify, parameterized by the two sides: `samePairSet = true` is the
    * self-join pair enumeration (ordered `id_a < id_b`, dedup within one
    * set), false the query-vs-corpus probe. Candidate generation carries
    * only (band, band_hash, id) — the wide signature arrays never enter
    * the candidate shuffle, only the bounded candidate set rejoins them.
    * Bands are statically unrolled into a literal array of native
    * expressions — transform(sequence(...)) would be `bands` interpreted
    * lambdas per row. */
  private def minhashMatches(left: DataFrame, right: DataFrame,
                             k: Int, bands: Int, threshold: Double,
                             samePairSet: Boolean): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val (ida, idb) = if (samePairSet) ("id_a", "id_b") else ("q_id", "c_id")
    def banded(s: DataFrame, idAs: String) = s.select(col("id").as(idAs),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * r + 1, r))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val joined = banded(left, ida)
      .join(banded(right, idb), Seq("band", "band_hash"))
    val cand = (if (samePairSet) joined.filter(col(ida) < col(idb)) else joined)
      .select(ida, idb).distinct()
    // estimation: join signatures back by id (key-partitioned equi-joins;
    // broadcast automatically when a signature table is small)
    cand
      .join(left.select(col("id").as(ida), col("sig").as("sig_a")), Seq(ida))
      .join(right.select(col("id").as(idb), col("sig").as("sig_b")), Seq(idb))
      .select(col(ida), col(idb),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Cross-set LSH probe: which QUERY signatures have a CORPUS match at
    * estimated jaccard ≥ threshold. Same banding as
    * [[minhashPairsFromSigs]], but the candidate join is query×corpus —
    * never corpus×corpus — so probing a batch of incoming documents
    * against a 100 TB corpus index shuffles the batch's bands against the
    * corpus bands (hash equi-join on (band, band_hash)) and the wide
    * signature arrays only rejoin the BOUNDED candidate set. Returns
    * (q_id, c_id, est_jaccard) rows for every match. */
  def minhashProbeFromSigs(querySigs: DataFrame, corpusSigs: DataFrame,
                           k: Int, bands: Int,
                           threshold: Double): DataFrame =
    minhashMatches(querySigs, corpusSigs, k, bands, threshold,
      samePairSet = false)

  /** 64-bit simhash of the word multiset: per-word xxhash64, bit-voting —
    * native expression (graft.functions.SimHash64) for the same reason as
    * minhashSignature. */
  def simhash(text: Column): Column =
    graft.functions.TextHashes.simhash64(split(text, " "))

  /** Simhash near-dup candidate pairs with hamming distance ≤ maxHamming,
    * banded into (maxHamming+1) 16-bit chunks (pigeonhole guarantee for
    * maxHamming ≤ 3). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim")), maxHamming)

  /** Simhash banding from a PRECOMPUTED signature table (id, sim) — the
    * persisted-index path, like `minhashPairsFromSigs`. */
  def simhashPairsFromSigs(sigsIn: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = 4 // 4 × 16-bit chunks of the 64-bit signature
    val sigs = Pin.offload(sigsIn) // both sides of the chunk self-join
    val banded = sigs.select(col("id"), col("sim"),
        posexplode(array((0 until chunks).map(c =>
          call_function("shiftrightunsigned", col("sim"), lit(c * 16))
            .bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val a = banded.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("sim").as("sim_a"))
    val b = banded.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("sim").as("sim_b"))
    // popcount of the XOR — codegen'd builtin, vs 64 interpreted lambdas/pair
    val hamming = bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int")
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram (word-set) jaccard pairs within a blocking key — the
    * brute-force verifier. `blockCol` bounds the join (e.g. language);
    * `leftFilter` optionally restricts the probe side. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double,
                        leftFilter: Column = lit(true)): DataFrame = {
    val sets = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      array_distinct(split(col(textCol), " ")).as("st"))
    val a = sets.filter(leftFilter)
      .select(col("blk"), col("id").as("id_a"), col("st").as("st_a"))
    val b = sets.select(col("blk"), col("id").as("id_b"), col("st").as("st_b"))
    val inter = size(array_intersect(col("st_a"), col("st_b")))
    val jac = round(inter.cast("double") /
      (size(col("st_a")) + size(col("st_b")) - inter), 6)
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Exact duplicate-PASSAGE detection: character windows of `windowLen`
   * sampled every `stride` chars that recur in ≥ `minDocs` distinct
   * documents — the window-granular form of exact-substring training-data
   * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
   * Better": repeated spans, not just whole-doc dups, degrade models; the
   * suffix-array machinery there becomes a hash-equi-join here).
   *
   * Scale shape (the whole point at 100 TB):
   *  1. map-side: each doc emits (xxhash64(window), id) per sampled window
   *     — the SHUFFLE carries 16 bytes/window, never text;
   *  2. hash groups with ≥ minDocs distinct docs are the candidates — a
   *     tiny set (true dup passages + astronomically-rare 64-bit
   *     collisions), broadcast back;
   *  3. only candidate windows re-derive their text map-side and group by
   *     the TEXT itself, so a hash collision can never merge two different
   *     passages in the output.
   *
   * Returns (dup_text, n_docs, n_occ) — each recurring passage with its
   * document reach and total occurrence count. `stride` trades recall for
   * cost: stride = windowLen/2 guarantees any duplicated span ≥
   * 1.5·windowLen shares at least one sampled window on both sides.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     windowLen: Int = 64, stride: Int = 32,
                     minDocs: Int = 2): DataFrame = {
    require(windowLen > 0 && stride > 0 && minDocs >= 2,
      "windowLen/stride must be positive; minDocs at least 2")
    // window start offsets 0, stride, … ≤ len−windowLen (sequence is
    // inclusive of the stop when it lands on the grid)
    duplicateSpansAt(df, idCol, textCol, windowLen, minDocs,
      txt => sequence(lit(0), length(txt) - windowLen, lit(stride)))
  }

  /**
   * Alignment-robust duplicate-passage detection: like [[duplicateSpans]]
   * but window positions are CONTENT-DEFINED (rolling-hash anchor
   * selection, `graft.functions.ContentAnchors` — Manber's approximate-
   * fingerprint scheme) instead of a fixed stride grid. A grid only
   * matches two copies of a passage when their offsets agree modulo the
   * stride; content anchors are a function of the passage text itself, so
   * every occurrence selects the same in-span positions wherever it sits
   * in the document. Expected window rate 1/density per char; a duplicated
   * span of length L ≥ windowLen + anchorGram is detected when it contains
   * ≥1 selected anchor — probability ≈ 1 − (1−1/density)^(L−windowLen),
   * tunable via `density` with linear cost.
   */
  def duplicateSpansAnchored(df: DataFrame, idCol: String, textCol: String,
                             windowLen: Int = 64, anchorGram: Int = 16,
                             density: Int = 16, minDocs: Int = 2): DataFrame =
    duplicateSpansAt(df, idCol, textCol, windowLen, minDocs,
      txt => graft.functions.TextHashes.contentAnchors(
        txt, anchorGram, density, windowLen))

  /** Shared hash-equi-join pipeline over a window-position generator (see
    * [[duplicateSpans]] for the scale shape). */
  private def duplicateSpansAt(df: DataFrame, idCol: String, textCol: String,
                               windowLen: Int, minDocs: Int,
                               offsets: Column => Column): DataFrame = {
    val docs = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(length(col("txt")) >= windowLen)
    val hashed = docs.select(col("id"),
        explode(offsets(col("txt"))).as("p"),
        col("txt"))
      .select(col("id"), col("p"),
        xxhash64(windowAt(col("txt"), col("p"), windowLen)).as("h"))
    val candidates = hashed.groupBy("h")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    // NO broadcast hint: candidates = every hash in ≥minDocs docs, which is
    // O(corpus) on a boilerplate-heavy crawl — a forced broadcast would OOM
    // the executors at 100 TB. A plain equi-join lets AQE broadcast only
    // when the aggregate output is actually small.
    hashed.join(candidates, Seq("h"))
      .join(docs, Seq("id"))
      .select(windowAt(col("txt"), col("p"), windowLen).as("dup_text"),
        col("id"))
      .groupBy("dup_text")
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
  }

  /** 1-based variable-position window — `substring(col, pos, len)` takes
    * only literal positions; the Column.substr form takes columns. */
  private def windowAt(txt: Column, p: Column, len: Int): Column =
    txt.substr(p + 1, lit(len))

  /**
   * EXACT-SUBSTRING span REMOVAL, keep-first (Lee et al. 2022,
   * "Deduplicating Training Data Makes Language Models Better" — the
   * ExactSubstr pass: duplicated training spans, not just whole-document
   * duplicates, measurably degrade models, so all but one occurrence of
   * every repeated span is CUT from the corpus). Token-granular: any
   * window of `spanTokens` whitespace tokens occurring more than once in
   * the corpus keeps only its globally FIRST occurrence in
   * `(idCol, token position)` order; the tokens under every other
   * occurrence are removed from their documents. With `stride = 1` (the
   * default) this exactly covers all duplicated token spans of length ≥
   * `spanTokens`: a longer duplicated span is tiled by duplicated windows
   * at every offset, so the whole span is cut. The keep-first copy
   * survives intact provided the duplicated span does not overlap ITSELF
   * (no period shorter than `spanTokens`): periodic text like "x x x x"
   * with `spanTokens = 2` has non-first duplicate windows starting inside
   * the first occurrence, so the first copy is partially cut too — one
   * period survives, matching the DuckDB oracle (see LIMITS.md).
   * `stride > 1` trades recall for an
   * `spanTokens/stride`-fold cheaper window pass, same as
   * [[duplicateSpans]].
   *
   * The paper's suffix-array machinery becomes a hash equi-join here
   * (the same re-expression as [[duplicateSpans]], plus the removal):
   *  1. map-side: each document emits an (h1, h2) hash pair per window —
   *    one fused native pass (`graft.functions.WindowHashPairs`), so the
   *    shuffle carries 8-byte keys and raw text never moves;
   *  2. ONE combiner-friendly shuffle on h1 elects the first occurrence
   *    per duplicated window (`min(struct(id, pos, h2))` — an aggregate,
   *    never a corpus-wide window function);
   *  3. non-first occurrences whose independently-seeded h2 MATCHES the
   *    winner's explode to covered token positions; the token stream
   *    anti-joins them and reassembles per document (id-keyed shuffles,
   *    all linear in corpus size). The h2 check gives 128 effective
   *    identity bits: on a 64-bit h1 birthday collision (expected at
   *    ~5e9 distinct windows) the verifier mismatches and the losing
   *    span is KEPT — a retained duplicate, never deleted content (the
   *    [[dedupLinesKeepFirst]] degrade contract).
   *
   * Documents reassemble with single-space joins, so runs of whitespace
   * collapse only where a cut span removed the intervening tokens; a
   * document whose every token is cut comes back as "" (the
   * [[dedupLinesKeepFirst]] convention).
   */
  def dedupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 50, stride: Int = 1): DataFrame = {
    require(spanTokens > 0 && stride > 0,
      "spanTokens and stride must be positive")
    val base = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
    // `wins` feeds the winner aggregate and the candidate join: pin when big
    val wins = Pin.offload(base
      .select(col(idCol),
        posexplode(graft.functions.TextHashes.windowHashPairs(
          col("_toks"), spanTokens, stride)).as(Seq("_widx", "_hp")))
      .select(col(idCol), (col("_widx") * stride).as("_wp"),
        col("_hp.h1").as("_wh"), col("_hp.h2").as("_wh2")))
    dedupSpansFromWins(df, idCol, textCol, wins, spanTokens)
  }

  /** The removal tail of [[dedupSpansKeepFirst]] over PRECOMPUTED window
    * rows `(idCol, _wp, _wh, _wh2)` — the path a persisted span-hash index
    * takes (`graft.api.Table.dedupSpans`), so a covered corpus never
    * re-hashes its windows for an offline dedup run. `wins` must carry
    * every window of every `df` row at the stride the hashes were built
    * with (the index's contract). */
  def dedupSpansFromWins(df: DataFrame, idCol: String, textCol: String,
                         wins: DataFrame, spanTokens: Int): DataFrame = {
    val base = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
    val firsts = wins.groupBy("_wh")
      .agg(count(lit(1)).as("_n"),
        min(struct(col(idCol).as("_fid"), col("_wp").as("_fp"),
          col("_wh2").as("_fh2"))).as("_first"))
      .filter(col("_n") >= 2)
      .select("_wh", "_first")
    // covered token positions of every NON-first occurrence of a
    // duplicated window (distinct: overlapping windows mark a position
    // once); the h2 equality keeps collision casualties instead
    val cut = wins.join(firsts, Seq("_wh"))
      .filter(col("_first._fh2") === col("_wh2") &&
        !(col("_first._fid") === col(idCol) &&
          col("_first._fp") === col("_wp")))
      .select(col(idCol),
        explode(sequence(col("_wp"), col("_wp") + (spanTokens - 1))).as("_tp"))
      .distinct()
    val toks = base.select(col(idCol),
      posexplode(col("_toks")).as(Seq("_tp", "_tok")))
    reassembleText(df, idCol, textCol,
      toks.join(cut, Seq(idCol, "_tp"), "left_anti"), "_tp", "_tok", " ")
  }

  /** Partition-local pre-contraction: hash-shuffle edges on `u`, run a
    * union-find inside each partition, and emit each LOCAL component as a
    * star (member → local minimum), INCLUDING the root's own `(root, root)`
    * self-loop — so the output also carries the complete node set and the
    * caller never has to re-evaluate the (expensive, e.g. LSH-generated)
    * input pair list just to enumerate ids. Every input edge is processed
    * by exactly one partition and its endpoints stay connected through the
    * local root, so global connectivity is preserved — while duplicate
    * edges vanish and dense neighborhoods collapse to one edge per non-root
    * node. LSH candidate lists (`dd2`/`dd7` shapes) emit a cluster's pairs
    * with shared `id_a` values, so after one hash shuffle most of a cluster
    * contracts in-place and the distributed star loop starts from
    * near-stars — typically 2-3 rounds instead of ~7. Memory is bounded by
    * one partition's node count (edges / spark.sql.shuffle.partitions), the
    * same bound any hash aggregation over the edge list needs. */
  /** In-memory union-find over an edge iterator: returns the parent map
    * after unioning every pair, roots labeled by the component MINIMUM by
    * construction (a union always points the larger root at the smaller,
    * and path compression only shortens paths, never moves roots). Shared
    * by [[contractLocally]]'s per-partition pass and the small-graph
    * driver fast path in [[connectedComponents]] — one implementation, one
    * labeling invariant. Resolve labels with [[ufFind]]. */
  private def unionFind(
      it: Iterator[(Long, Long)]): scala.collection.mutable.HashMap[Long, Long] = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]
    it.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val ru = ufFind(parent, u)
      val rv = ufFind(parent, v)
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    parent
  }

  private def ufFind(parent: scala.collection.mutable.HashMap[Long, Long],
                     x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  private def contractLocally(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.repartition(col("u")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = unionFind(it)
        parent.keysIterator.map(n => (n, ufFind(parent, n)))
      }
      .toDF("u", "v")
  }

  /**
   * Connected components over an undirected pair list — the step that turns
   * near-duplicate PAIRS into duplicate CLUSTERS (transitive closure: A~B
   * and B~C put A, B, C in one cluster even when A~C never surfaced as a
   * pair, which is exactly what keep-one-per-cluster dedup needs).
   *
   * Alternating large-star / small-star (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14): each round is two
   * hash-shuffles keyed on node id — no driver-side graph, no O(diameter)
   * label propagation — and the edge set converges to a forest of stars in
   * O(log² n) rounds even on pathological chain graphs, so a 100 TB corpus'
   * pair list never serializes through the driver. Per-round lineage is
   * truncated with a LAZY checkpoint whose materializing action is the
   * convergence-signature aggregation itself — one driver action per round,
   * never a separate eager-checkpoint pass plus a signature job.
   *
   * Checkpoint durability: `reliable = false` (default) uses
   * `localCheckpoint` — executor-local, unreplicated blocks; losing an
   * executor mid-iteration fails the run (fine single-node / short batch).
   * `reliable = true` routes each round through `Dataset.checkpoint` into
   * `spark.sparkContext.setCheckpointDir` (HDFS/object store) so a 100 TB
   * cluster run survives executor loss at the cost of a per-round write.
   *
   * Returns (id, component) for every id appearing in `pairs`, where
   * component = the smallest id in its cluster. Ids must be integral (or
   * castable): a non-castable id nulls out and its edge degrades to the
   * partner's singleton — hash string ids (e.g. `xxhash64`) before calling.
   */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 25,
                          reliable: Boolean = false): DataFrame = {
    // reliable rounds persist BEFORE checkpointing: the checkpoint write is
    // a second pass over the round's RDD, and without a cache that pass
    // re-runs the whole shuffle lineage — the 2×-work-per-round cost this
    // function otherwise avoids. The previous round's cache is dropped once
    // the next round's signature action has consumed it.
    var lastPersisted: Option[DataFrame] = None
    def truncate(df: DataFrame): DataFrame =
      if (reliable) {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        lastPersisted.foreach(_.unpersist(blocking = false))
        lastPersisted = Some(p)
        p.checkpoint(eager = false)
      } else df.localCheckpoint(eager = false)
    // pre-contraction replaces the old `.distinct()` pass: same single
    // shuffle, but the partition-local union-find also collapses dense
    // neighborhoods to stars (and dedups as a side effect), cutting the
    // iterative rounds the star loop needs afterwards. The checkpointed
    // contraction output keeps root self-loops so it doubles as the node
    // inventory — `pairs` (which may hide an expensive LSH band-join) is
    // evaluated exactly ONCE, here.
    val contracted = truncate(contractLocally(pairs
      // try_cast, not cast: ANSI mode would THROW on a malformed string id
      // before any null guard could run — malformed and null ids must both
      // degrade, not kill the job
      .select(col(idA).try_cast("long").as("u"),
        col(idB).try_cast("long").as("v"))
      // null ids would kill the non-nullable tuple deserializer inside the
      // union-find: a half-null pair keeps its real id as a singleton
      // self-loop (the id DID appear in the input, so the output must
      // carry it), an all-null row drops
      .filter(col("u").isNotNull || col("v").isNotNull)
      .select(coalesce(col("u"), col("v")).as("u"),
        coalesce(col("v"), col("u")).as("v"))))
    var edges = contracted.filter(col("u") =!= col("v"))
    // deterministic edge-set signature: (count, xor of per-edge hashes) —
    // bit_xor, not sum: ANSI mode makes an overflowing long sum THROW.
    def signature(e: DataFrame): Seq[Any] =
      e.agg(count(lit(1)), call_function("bit_xor", xxhash64(col("u"), col("v"))))
        .head().toSeq
    // sign the CONTRACTED input too: pre-contraction frequently emits the
    // final star forest outright (a star forest is a fixpoint of the
    // large-star/small-star round), and input-vs-round-1 equality then
    // detects it after ONE round instead of two. The action is nearly free —
    // it materializes the input's lazy checkpoint, work round 1 would
    // otherwise do inside its own job.
    var prevSig: Seq[Any] = signature(edges)
    // SMALL-GRAPH FAST PATH: when the contracted edge set is metadata-sized
    // (the signature's count — already paid for), finish on the driver: one
    // collect of ≤ cutoff (u, v) pairs, an in-memory union-find, and the
    // component map broadcast back onto the (distributed) node inventory.
    // The star loop costs 2+ rounds × several shuffle stages × one action
    // each — pure scheduler overhead when the edges fit in a few MB (the
    // dominant cost of the whole cluster pass at bench scale), while the
    // collect is bounded like every other metadata-scale collect here
    // (model buckets, centroids). Identical output by construction: the
    // driver union-find labels every component by its minimum id, exactly
    // the star loop's fixpoint. Large edge sets never take this branch, so
    // the 100 TB shape is unchanged.
    val localCutoff = pairs.sparkSession.conf
      .get("spark.graft.cc.localEdgeCutoff", "100000").toLong
    val nEdges = prevSig.head match { case n: Long => n; case _ => Long.MaxValue }
    if (nEdges <= localCutoff) {
      // finally mirrors the star loop's: the signature action already
      // materialized the contracted checkpoint, so the reliable-mode
      // write-through cache can go even if the collect fails mid-way
      try {
        val parent = unionFind(edges.select(col("u"), col("v")).collect()
          .iterator.map(r => (r.getLong(0), r.getLong(1))))
        val spark = pairs.sparkSession
        import spark.implicits._
        val compMap = parent.keysIterator
          .map(n => (n, ufFind(parent, n)))
          .filter { case (n, c) => n != c }.toSeq
        val nodes = contracted.select(col("u").as("id")).distinct()
        if (compMap.isEmpty)
          return nodes.select(col("id"), col("id").as("component"))
        return nodes.join(
            broadcast(compMap.toDF("id", "component")), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("id")).as("component"))
      } finally lastPersisted.foreach(_.unpersist(blocking = false))
    }
    var converged = false
    var iter = 0
    try while (!converged && iter < maxIter) {
      // large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u})
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: orient edges larger→smaller; every smaller neighbor and
      // u itself re-link to the minimum of the oriented neighborhood
      val dir = ls.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val ssMin = dir.groupBy("u").agg(min("v").as("m"))
      val ss = truncate(dir.join(ssMin, "u")
        .select(col("v"), col("m"))
        .union(ssMin.select(col("u").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct())
      edges = ss
      iter += 1
      // the round's one driver action: computes the signature AND (under
      // AQE's eager stage materialization, the final stage; otherwise the
      // whole lineage) the lazy checkpoint it reads through. Checking every
      // 2nd round was measured SLOWER end-to-end: it saves half the cheap
      // signature actions but detects the fixpoint up to two full —
      // expensive — rounds later.
      val sig = signature(ss)
      converged = sig == prevSig
      prevSig = sig
    } finally {
      // every retained round is checkpoint-backed by its signature action;
      // the final round's write-through cache is no longer needed — and on
      // an aborted run (checkpoint dir unset, executor loss) the finally
      // keeps the MEMORY_AND_DISK blocks from leaking for the session
      lastPersisted.foreach(_.unpersist(blocking = false))
    }
    // at the star fixpoint every non-root carries exactly one edge to its
    // component root; min() keeps the result deterministic even if maxIter
    // capped a (pathological) run before full convergence. The node set
    // reads the CONTRACTED checkpoint (whose `u` side enumerates every node
    // thanks to the root self-loops), not `pairs` — re-evaluating the pair
    // list here used to re-run the whole LSH candidate generation just to
    // list ids.
    val nodes = contracted.select(col("u").as("id")).distinct()
    nodes.join(edges.groupBy(col("u").as("id")).agg(min("v").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Keep-one-per-cluster dedup: drop every row whose id sits in a cluster
    * under a smaller id (rows never surfacing in `pairs` all survive). */
  def keepClusterRepresentatives(df: DataFrame, idCol: String,
                                 pairs: DataFrame): DataFrame = {
    val dupes = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }

  /** Keep-BEST-per-cluster dedup: within each near-duplicate cluster keep
    * the row maximizing `scoreCol` (ties → smallest id) instead of the
    * smallest id — "keep the longest / highest-quality copy", the
    * canonical-document selection pass production dedup pipelines run
    * after clustering. Rows never surfacing in `pairs` survive untouched;
    * `scoreCol` must be numeric (or castable) on clustered rows — a NULL
    * score sorts FIRST in the election key (the nulls-first struct-field
    * ordering the original `min(struct(-score, id))` spelling applied), so
    * a null-scored member WINS its cluster; don't feed nullable scores
    * unless that is intended. Ids follow [[connectedComponents]]'
    * integral-or-castable contract — `try_cast` here too, so a malformed
    * id (which that layer already degraded to its partner's singleton)
    * passes through unclustered instead of throwing under ANSI mode —
    * and additionally must sit in [−2⁶¹, 2⁶¹) (the packed election key's
    * id lane, `Distances.packScoreId` — out-of-range ids fail loudly).
    *
    * Scale shape: winner election is a per-component
    * `min(packScoreId(-score, id))` AGGREGATE — a DECIMAL(38,0) key whose
    * order is isomorphic to lexicographic (−score, id) for ANY double
    * score (sign-flip total-order bits, r15) — so it plans as a
    * HashAggregate with map-side combine (the former `min(struct(…))`
    * spelling buffered a struct, which is not a mutable aggregation type,
    * and planned as SortAggregate: every task sorted its clustered rows
    * before the partial aggregate). Combine profile qualifies: components
    * have ≥ 2 members by construction, so the map-side partial collapses
    * the stream (the r14 cardinality rule above — contrast the span/line
    * elections, whose mostly-unique keys keep the struct form). Winner ids
    * then semi-join back; component labels come from
    * [[connectedComponents]]' star-forest rounds. */
  def keepBestInClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                         scoreCol: Column): DataFrame = {
    val comp = connectedComponents(pairs)
      .withColumnRenamed("id", "__kb_id")
    val clustered = df
      .join(comp, col(idCol).try_cast("long") === col("__kb_id"))
    val winners = clustered
      .groupBy(col("component"))
      .agg(min(Distances.packScoreId(
        -scoreCol.cast("double"), col("__kb_id"))).as("__kb_pk"))
      .select(Distances.unpackScoreId(col("__kb_pk")).as("__kb_keep"))
    val losers = clustered
      .join(winners, col("__kb_id") === col("__kb_keep"), "left_anti")
      .select(col("__kb_id").as("__kb_lose"))
    df.join(losers, col(idCol).try_cast("long") === col("__kb_lose"),
      "left_anti")
  }

  /**
   * Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means-cluster
   * the embedding space, find cosine near-duplicates WITHIN each cluster,
   * and keep one representative (min id) per duplicate group. The standard
   * pruning pass for web-scale training corpora: semantically-redundant
   * documents whose text differs (so minhash misses them) collapse to one.
   *
   * Scale shape: clustering reuses `Similarity.ivfIndex` (one broadcast
   * assignment pass per Lloyd iteration); the candidate pair space is
   * Σ|cluster|² instead of n² — the self-join co-locates rows by
   * `centroid_id` in ONE key shuffle, and with K ≈ n/µ clusters stays
   * linear in n for bounded cluster sizes. Known tradeoff (as published):
   * near-duplicates split across a cluster boundary are missed; raise
   * `nClusters` resolution or run LSH pairs for recall-critical passes.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double,
                    refineIters: Int = 1): DataFrame =
    keepClusterRepresentatives(df, idCol,
      semanticPairs(df, idCol, vecCol, nClusters, threshold, refineIters))

  /** The within-cluster near-duplicate pairs behind [[semanticDedup]]. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double,
                    refineIters: Int = 1): DataFrame = {
    val (_, assigned) = Similarity.ivfIndex(
      df.select(col(idCol), col(vecCol)), idCol, vecCol,
      nClusters, refineIters)
    val a = assigned.select(col("centroid_id"),
      col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = assigned.select(col("centroid_id"),
      col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(Distances.cosineSim(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Embedding near-dup pairs by cosine similarity ≥ threshold over a
    * bounded probe set (brute-force verifier; `embeddingLshPairs` is the
    * corpus-scale route). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double,
                           leftFilter: Column = lit(true)): DataFrame = {
    val a = df.filter(leftFilter)
      .select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(Distances.cosineSim(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-dup PAIRS at corpus scale: multi-table hyperplane-LSH
    * candidate generation — an equi-join on (table, signature), so the
    * O(n²) pair space never materializes and the shuffle carries only
    * (tbl, sig, id) — then exact cosine verification on the bounded
    * candidate set (vectors re-joined by id, same shape as minhash LSH).
    * Recall on merely-similar pairs is probabilistic (grows with `tables`);
    * IDENTICAL vectors collide in every table, so exact duplicates surface
    * deterministically. */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        planes: Int = 12, tables: Int = 4): DataFrame =
    embeddingLshPairsFromSigs(
      df.select(col(idCol).as("id"),
        lshSignatures(col(vecCol), dim, planes, tables).as("vsig")),
      df.select(col(idCol).as("id"), col(vecCol).as("v")), threshold)

  /** The per-row multi-table signature vector (array<long>, one signature
    * per LSH table) — what the persisted embedding dedup index stores, so a
    * 100 TB corpus hashes each vector against the hyperplane families once,
    * not per dedup run. */
  def lshSignatures(vec: Column, dim: Int, planes: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      Similarity.lshSignature(vec, planes, dim, t * planes)): _*)

  /** Same LSH pipeline from a PRECOMPUTED signature table (id, vsig) plus a
    * vector table (id, v) for the exact-cosine verification — the persisted
    * embedding-index path (`Table.dedupEmbeddingPairs`), mirroring
    * `minhashPairsFromSigs`. */
  def embeddingLshPairsFromSigs(sigsIn: DataFrame, vecs: DataFrame,
                                threshold: Double): DataFrame = {
    val sigs = Pin.offload(sigsIn) // both sides of the banded join
    embeddingMatches(sigs, vecs, sigs, vecs, threshold, samePairSet = true)
  }

  /** ONE implementation of hyperplane-LSH banding + candidate join +
    * exact-cosine verify, parameterized by the two sides — the vector
    * twin of [[minhashMatches]] (`samePairSet = true`: pair enumeration
    * within one set; false: query-vs-corpus probe). Only the bounded
    * candidate set rejoins the vectors. */
  private def embeddingMatches(leftSigs: DataFrame, leftVecs: DataFrame,
                               rightSigs: DataFrame, rightVecs: DataFrame,
                               threshold: Double,
                               samePairSet: Boolean): DataFrame = {
    val (ida, idb) = if (samePairSet) ("id_a", "id_b") else ("q_id", "c_id")
    def banded(s: DataFrame, idAs: String) =
      s.select(col("id").as(idAs), posexplode(col("vsig")))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "sig")
    val joined = banded(leftSigs, ida).join(banded(rightSigs, idb),
      Seq("tbl", "sig"))
    val cand = (if (samePairSet) joined.filter(col(ida) < col(idb)) else joined)
      .select(ida, idb).distinct()
    cand
      .join(leftVecs.select(col("id").as(ida), col("v").as("v_a")), Seq(ida))
      .join(rightVecs.select(col("id").as(idb), col("v").as("v_b")), Seq(idb))
      .withColumn("cos", round(Distances.cosineSim(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select(ida, idb, "cos")
  }

  /** Cross-set embedding probe, the vector twin of
    * [[minhashProbeFromSigs]]: which QUERY vectors near-duplicate a
    * CORPUS vector at cosine ≥ threshold. Query (id, vsig, v) rows
    * band-join the corpus signatures per LSH table (query×corpus only);
    * exact-cosine verification rejoins both vector sides over the
    * bounded candidate set. Returns (q_id, c_id, cos). */
  def embeddingProbeFromSigs(querySigs: DataFrame, queryVecs: DataFrame,
                             corpusSigs: DataFrame, corpusVecs: DataFrame,
                             threshold: Double): DataFrame =
    embeddingMatches(querySigs, queryVecs, corpusSigs, corpusVecs, threshold,
      samePairSet = false)
}
