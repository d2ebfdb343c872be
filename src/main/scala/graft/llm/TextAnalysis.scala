package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TokenStats.tokenStats

/**
 * Text-analysis operators for training-data pipelines (north-star extension;
 * no analog in the reference SDK — its `documents`-shaped workloads delegate
 * everything past scan to the client).
 *
 * All operators are pure column expressions (no UDFs), so they scale linearly
 * with no shuffle: at 100 TB these run map-side in the same stage as the
 * parquet scan. Anything that iterates tokens goes through the native
 * single-pass `TokenStats` expression (graft/functions/TokenStats.scala) —
 * interpreted higher-order-function lambdas cost ~1µs each, which made the
 * token loops a 50s bench outlier at sf0.1.
 */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word-piece regex token count (BPE-ish pre-tokenization: letter runs,
    * digit runs, single punctuation — the GPT-2 pre-tokenizer shape without
    * the merges table). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  /** BPE-ish subword-count estimate: word-piece regex split + a chars/4
    * correction for long words (the standard fast approximation when a real
    * tokenizer isn't available executor-side). */
  def bpeTokenEstimate(text: Column): Column =
    greatest(ceil(length(text) / 4).cast("long"), tokenCount(text).cast("long"))

  /** Punctuation character ratio (0..1, 6-dp rounded for stability). */
  def punctRatio(text: Column): Column =
    punctRatioFrom(tokenStats(text), text)

  private def punctRatioFrom(st: Column, text: Column): Column =
    round(st.getField("n_punct").cast("double")
      / greatest(length(text), lit(1)), 6)

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column =
    stopwordRatioFrom(tokenStats(text))

  private def stopwordRatioFrom(st: Column): Column =
    round(st.getField("n_stop").cast("double")
      / greatest(st.getField("n_tokens"), lit(1)), 6)

  /** Composite quality score in [0,1] from length/punct/stopword signals.
    * The weighted blend runs in exact decimal arithmetic (weights are
    * decimal literals), so any engine computing the same formula gets a
    * bit-identical double — a 6-dp-rounded double blend would diverge at
    * rounding boundaries. */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(tokenStats(text), text)

  private def qualityScoreFrom(st: Column, text: Column): Column = {
    val dec = "decimal(18,6)"
    val lenNorm = (least(length(text), lit(500)).cast("double") / 500.0).cast(dec)
    val d3 = lit(new java.math.BigDecimal("0.3"))
    val d2 = lit(new java.math.BigDecimal("0.2"))
    val d5 = lit(new java.math.BigDecimal("0.5"))
    (lenNorm * d3 + (lit(1.0) - punctRatioFrom(st, text)).cast(dec) * d2 +
      stopwordRatioFrom(st).cast(dec) * d5).cast("double")
  }

  /** Language-ID by stopword-profile voting: score each language by how many
    * of its characteristic function words appear (distinct matches); argmax
    * wins with ties broken toward the lexicographically larger code, 'und'
    * (undetermined) when no profile matches. Profiles live in
    * `TokenStats.langProfiles`. */
  def langId(text: Column): Column = tokenStats(text).getField("lang")

  /** The Gopher stop set (Rae et al. 2021 §A1.1): a document must contain
    * at least two DISTINCT of these to pass `has_stopwords`. */
  val gopherStopSet: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher rule-based quality flags (Rae et al. 2021, "Scaling Language
   * Models" §A1.1 — the pre-model filter every published pretraining
   * pipeline since applies in some form): one named boolean per rule plus
   * the conjunction, all MAP-SIDE over whitespace tokens and newline
   * lines (no shuffle, codegen-friendly string ops; ratios are
   * integer/integer doubles, exact in IEEE, so any engine computing the
   * same formula agrees bit-for-bit):
   *
   *  - `word_count_ok`   50 ≤ n_tokens ≤ 100000
   *  - `mean_word_len_ok` mean token length in [3, 10]
   *  - `symbol_ratio_ok` hash-to-word ratio ≤ 0.1 AND ellipsis-to-word
   *    ratio ≤ 0.1 — each symbol tested SEPARATELY, as the paper's
   *    "greater than 0.1 for either the hash symbol or the ellipsis"
   *    prescribes ("..." and '…' both count as the ellipsis symbol)
   *  - `bullet_lines_ok` ≤ 90% of lines start with a bullet (-, *, •) —
   *    the paper removes only bullet-DOMINATED pages
   *  - `ellipsis_lines_ok` ≤ 30% of lines end with "..." or '…'
   *  - `alpha_word_ok`   ≥ 80% of tokens contain an alphabetic char
   *  - `has_stopwords`   ≥ 2 distinct of [[gopherStopSet]]
   *  - `passes`          all of the above
   */
  def gopherRules(text: Column): Column = {
    // one compiled pass per row (graft.functions.GopherStats — the four
    // interpreted HOF token loops this replaces cost ~1µs per lambda,
    // the exact outlier shape TokenStats removed from text_analyze);
    // codegen-level subexpression elimination collapses the repeated
    // struct references to a single compute() call
    val gs = graft.functions.GopherStats.gopherStats(text)
    val n = gs.getField("n_tokens").cast("double")
    val nLines = gs.getField("n_lines").cast("double")
    val meanLen = gs.getField("sum_token_chars").cast("double") / n
    val rules = Seq(
      "word_count_ok" -> (gs.getField("n_tokens") >= 50 &&
        gs.getField("n_tokens") <= 100000),
      "mean_word_len_ok" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio_ok" ->
        (gs.getField("n_hash").cast("double") / n <= 0.1 &&
          gs.getField("n_ellipsis").cast("double") / n <= 0.1),
      "bullet_lines_ok" ->
        (gs.getField("n_bullet_lines").cast("double") / nLines <= 0.9),
      "ellipsis_lines_ok" ->
        (gs.getField("n_ellipsis_lines").cast("double") / nLines <= 0.3),
      "alpha_word_ok" ->
        (gs.getField("n_alpha_tokens").cast("double") / n >= 0.8),
      "has_stopwords" -> (gs.getField("n_stop_hits") >= 2))
    struct((rules.map { case (nm, c) => c.as(nm) } :+
      rules.map(_._2).reduce(_ && _).as("passes")): _*)
  }

  /** Keep only rows whose `textCol` passes every [[gopherRules]] check —
    * a pure map-side filter (pushes to the scan where possible). */
  def gopherFilter(df: DataFrame, textCol: String = "text"): DataFrame =
    df.filter(gopherRules(col(textCol)).getField("passes"))

  /**
   * Gopher REPETITION-removal flags (Rae et al. 2021 §A1.1, table A1 —
   * the second half of the published filter, complementing
   * [[gopherRules]]): one named boolean per rule plus the conjunction,
   * from ONE compiled pass (graft.functions.GopherRepetition). All
   * fractions are exact-integer numerator/denominator IEEE doubles
   * (0 when the denominator is 0), so any engine agrees flag-for-flag:
   *
   *  - `dup_line_frac_ok`      (n_lines − n_distinct)/n_lines ≤ 0.30
   *  - `dup_line_char_frac_ok` chars in repeated line occurrences /
   *    total line chars ≤ 0.20
   *  - `top{2,3,4}gram_ok`     top n-gram char mass / token chars ≤
   *    0.20 / 0.18 / 0.16
   *  - `dup{5..10}gram_ok`     chars under duplicated n-grams / token
   *    chars ≤ 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10
   *  - `passes`                all of the above
   *
   * The paper's separate PARAGRAPH rules are not distinct here: this
   * engine's line-based document model has no paragraph marker, so the
   * line rules stand in for both (documented in LIMITS.md).
   */
  def gopherRepetitionRules(text: Column): Column = {
    val rs = graft.functions.GopherRepetition.gopherRepetition(text)
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
    val nLines = rs.getField("n_lines")
    val lineChars = rs.getField("line_chars")
    val tokChars = rs.getField("token_chars")
    val thresholds = Seq(
      ("top2gram_ok", "top2_chars", 0.20), ("top3gram_ok", "top3_chars", 0.18),
      ("top4gram_ok", "top4_chars", 0.16), ("dup5gram_ok", "dup5_chars", 0.15),
      ("dup6gram_ok", "dup6_chars", 0.14), ("dup7gram_ok", "dup7_chars", 0.13),
      ("dup8gram_ok", "dup8_chars", 0.12), ("dup9gram_ok", "dup9_chars", 0.11),
      ("dup10gram_ok", "dup10_chars", 0.10))
    val rules =
      Seq("dup_line_frac_ok" ->
            (frac(rs.getField("n_dup_lines"), nLines) <= 0.30),
          "dup_line_char_frac_ok" ->
            (frac(rs.getField("dup_line_chars"), lineChars) <= 0.20)) ++
        thresholds.map { case (nm, f, t) =>
          nm -> (frac(rs.getField(f), tokChars) <= t)
        }
    struct((rules.map { case (nm, c) => c.as(nm) } :+
      rules.map(_._2).reduce(_ && _).as("passes")): _*)
  }

  /** Keep rows passing every [[gopherRepetitionRules]] check. */
  def gopherRepetitionFilter(df: DataFrame,
                             textCol: String = "text"): DataFrame =
    df.filter(gopherRepetitionRules(col(textCol)).getField("passes"))

  /** Order-sensitive document fingerprint: rolling hash chaining each word
    * into the accumulator (Karp-Rabin shape, overflow-free under ANSI mode).
    * Same text → same 64-bit fingerprint; any reordering changes it
    * (unlike set-based minhash). */
  def fingerprint(text: Column): Column =
    tokenStats(text).getField("fingerprint")

  /** All analysis columns for a documents-like table — the TokenStats struct
    * is materialized ONCE per row and every token-derived column reads from
    * it (CollapseProject keeps the multi-referenced non-cheap alias in its
    * own Project, so the pass isn't duplicated). */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val ts = col("__token_stats")
    df.withColumn("__token_stats", tokenStats(t))
      .withColumn("n_tokens", ts.getField("n_tokens"))
      .withColumn("n_tokens_bpe_est",
        greatest(ceil(length(t) / 4).cast("long"),
          ts.getField("n_tokens").cast("long")))
      .withColumn("punct_ratio", punctRatioFrom(ts, t))
      .withColumn("stopword_ratio", stopwordRatioFrom(ts))
      .withColumn("quality_score", qualityScoreFrom(ts, t))
      .withColumn("lang_pred", ts.getField("lang"))
      .withColumn("fingerprint", ts.getField("fingerprint"))
      .drop("__token_stats")
  }

  /** Corpus-wide top-k n-grams by DOCUMENT frequency (how many documents
    * contain the gram at least once) — the survey step behind boilerplate
    * thresholds and contamination audits: the grams that show up in
    * thousands of documents are the nav bars and license footers.
    *
    * 100 TB shape: per-document distinct shingles explode map-side, the
    * count is one hash aggregation with map-side partial combine (hot grams
    * collapse before the shuffle — the wordcount shape), and top-k plans as
    * `TakeOrderedAndProject`, never a global sort. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram").asc)
      .limit(k)

  /** Unicode NFC canonicalization + control-character strip — the
    * normalization pass that must run BEFORE any hashing/dedup/shingling so
    * canonically-equivalent encodings of the same text collapse to one
    * form. NFC is a native codegen expression (graft/functions/
    * TextNormalize.scala); the control strip removes C0/C1 controls and
    * Unicode format chars (zero-width joiners, BOMs, bidi marks — the
    * classic dedup-poisoning invisibles) while keeping tab/newline. The
    * pattern avoids Java-only regex syntax so any RE2-based engine
    * (DuckDB, Go) applies the identical transform. */
  val ControlStripPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]|\\p{Cf}"
  def normalizeText(text: Column): Column =
    regexp_replace(graft.functions.NfcNormalize.nfc(text),
      ControlStripPattern, "")

  /**
   * Corpus-unigram-LM scoring (the CCNet/KenLM quality-filter shape): build
   * the corpus term distribution, then score each document by the summed
   * negative log-probability of its tokens — gibberish and boilerplate-free
   * rare-token soup score high, fluent in-distribution text scores low.
   *
   * Determinism contract: per-token −ln p is rounded to 6 dp and summed as
   * DECIMAL, so the per-document total is exact and independent of Spark's
   * partition-dependent double-summation order — any engine computing the
   * same formula matches bit-for-bit.
   *
   * 100 TB shape: tokenize map-side; the term-frequency table is a
   * word-count aggregation whose hot keys collapse in the map-side partial;
   * the vocabulary (≪ corpus) broadcasts back onto the token stream, so the
   * only full-data shuffle is the final per-document sum, keyed by id.
   */
  def unigramLogProb(df: DataFrame, idCol: String,
                     textCol: String = "text"): DataFrame = {
    // TWO tokenize passes instead of three (r15): the r14-audited plan
    // tokenized the corpus once for the term table, AGAIN for its total
    // (tf is consumed by both the broadcast join and the total aggregate,
    // so its unpinned lineage re-ran end to end), and once for the scoring
    // join. Pinning the VOCABULARY-sized tf aggregate removes the middle
    // pass for the cost of caching one row per distinct term. (A full
    // per-(doc, term) restructure that tokenizes ONCE was measured and
    // rejected: its corpus-scale checkpoint + extra (id, w) exchange ran
    // 1.2–1.75× SLOWER at both sf0.1 and sf1 — the map-side re-tokenize it
    // saved is cheaper than materializing the token-level intermediate.)
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val tf = Pin.reuse(tok.groupBy("w").agg(count(lit(1)).as("c")))
    val total = tf.agg(sum(col("c")).as("corpus_tokens"))
    val scored = tok
      .join(broadcast(tf), Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("_nlp",
        round(-log(col("c").cast("double") / col("corpus_tokens")), 6)
          .cast("decimal(18,6)"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_nlp")).cast("double").as("neg_logp_sum"))
  }

  /** Model-free text embedding by the hashing trick (Weinberger 2009):
    * L2-normalized signed-hash bag-of-words over whitespace tokens, one
    * native map-side pass — plugs the text corpus into the vector stack
    * (cosine near-dup, kNN, PQ, k-means) without an external encoder.
    * Order-invariant: identical token multisets embed identically. */
  def hashEmbedding(text: Column, dim: Int = 64): Column =
    graft.functions.TextHashes.hashEmbedding(tokens(text), dim)

  /** Bigrams of a token array as (w1, w2) structs, map-side (no window
    * shuffle); empty for docs with fewer than two tokens. */
  private def bigrams(toks: Column): Column = {
    val n = greatest(size(toks) - 1, lit(0))
    arrays_zip(slice(toks, lit(1), n).as("w1"), slice(toks, lit(2), n).as("w2"))
  }

  /**
   * Bigram-LM scoring with Stupid Backoff (Brants et al. 2007 — the
   * web-scale LM smoothing): S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram was
   * seen in training, else α·c(w₂)/N. Train the counts on one corpus
   * slice, score another — the standard "score incoming data against the
   * corpus LM" quality filter, and the split is what makes the backoff
   * path real (self-scoring never backs off: every bigram is its own
   * training data).
   *
   * Returns (idCol, n_bigrams, n_backoff, neg_logp_sum). Per-bigram
   * −ln S rounds to 6 dp into DECIMAL before the per-doc sum (exact,
   * partition-order independent — same contract as `unigramLogProb`).
   *
   * 100 TB shape: bigram extraction is map-side array work; the count
   * tables are word-count aggregations (map-side combine) that broadcast
   * back onto the scored stream; one id-keyed shuffle for the final sum.
   */
  def bigramLogProb(train: DataFrame, score: DataFrame, idCol: String,
                    textCol: String = "text",
                    alpha: Double = 0.4): DataFrame = {
    val trainToks = train.select(explode(tokens(col(textCol))).as("w"))
    val c1 = trainToks.groupBy("w").agg(count(lit(1)).as("c1"))
    val nTokens = c1.agg(sum(col("c1")).as("n_corpus"))
    val c2 = train
      .select(explode(bigrams(tokens(col(textCol)))).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scored = score
      .select(col(idCol), explode(bigrams(tokens(col(textCol)))).as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1.withColumnRenamed("w", "w1")
        .withColumnRenamed("c1", "c1_prev")), Seq("w1"), "left")
      .join(broadcast(c1.withColumnRenamed("w", "w2")
        .withColumnRenamed("c1", "c1_cur")), Seq("w2"), "left")
      .crossJoin(broadcast(nTokens))
    // unseen CONTINUATION word (not even a unigram) floors at 1/N — the
    // conventional OOV clamp keeping S finite
    val s = when(col("c2").isNotNull,
        col("c2").cast("double") / col("c1_prev"))
      .otherwise(lit(alpha) * coalesce(col("c1_cur"), lit(1L))
        / col("n_corpus"))
    scored
      .withColumn("_nls", round(-log(s), 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum(col("_nls")).cast("double").as("neg_logp_sum"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
   * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
   * score each document against a reference LM trained on a trusted slice
   * — here the Stupid-Backoff bigram LM of [[bigramLogProb]] standing in
   * for CCNet's KenLM 5-gram — and split every group (CCNet: language)
   * into `head` / `middle` / `tail` thirds by per-token negative
   * log-probability. Head is the most in-distribution (lowest-perplexity)
   * third; CCNet pretrains on head+middle and drops tail.
   *
   * Determinism and dual-engine parity: the per-token score is an exact
   * integer — `ppt_micro = (neg_logp_sum in micro-nats) div n_bigrams`,
   * pure BIGINT from the 6-dp DECIMAL sum — and bucket boundaries are
   * RANK arithmetic (`(rank·3) div m`), never interpolated quantile cut
   * VALUES, which are half-ulp engine-dependent. Any engine recomputing
   * the same formula agrees bucket-for-bucket.
   *
   * Scale shape: LM count tables broadcast ([[bigramLogProb]]); the
   * per-group ranking is [[Curation.rankBySort]] — range-partitioned
   * two-phase rank, so a 100-TB language never serializes through one
   * window partition; group offsets/sizes are one metadata-sized
   * aggregate broadcast back.
   *
   * Contract: only documents with ≥ 1 bigram (≥ 2 tokens) are scored —
   * shorter documents have no LM evidence and are absent from the output
   * (filter or pass them through upstream). `idCol` must be unique.
   * Returns (idCol, group, n_bigrams, n_backoff, neg_logp_sum, ppt_micro,
   * bucket).
   */
  def ccnetBuckets(train: DataFrame, score: DataFrame, idCol: String,
                   textCol: String = "text",
                   groupCol: Option[String] = None,
                   alpha: Double = 0.4): DataFrame = {
    val lm = bigramLogProb(train, score, idCol, textCol, alpha)
    val grouped = groupCol match {
      case Some(g) => lm.join(
        score.select(col(idCol), col(g).cast("string").as("group")), Seq(idCol))
      case None => lm.withColumn("group", lit("all"))
    }
    val scored = grouped
      .withColumn("ppt_micro",
        expr("cast(round(neg_logp_sum * 1e6) as bigint) div n_bigrams"))
    val ranked = Curation.rankBySort(
      scored.select(col(idCol), col("group"), col("n_bigrams"),
        col("n_backoff"), col("neg_logp_sum"), col("ppt_micro")),
      Seq(col("group").asc, col("ppt_micro").asc, col(idCol).asc))
    // one row per group: the group's global-rank base and size. The rank is
    // contiguous per group because `group` leads the total order, so the
    // base is the EXCLUSIVE running sum of group sizes in group order —
    // arithmetic over one row per group. (min(_rank) computes the same
    // number but re-evaluates ranked's whole window+offset-join subtree for
    // the aggregate consumer — a second corpus-frame sort the plan audit
    // caught; counting needs no rank, so the window prunes away here.)
    val wg = Window.partitionBy(lit(0)).orderBy(col("__g").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gstats = ranked.groupBy(col("group").as("__g"))
      .agg(count(lit(1)).as("__gm"))
      .withColumn("__g0", coalesce(sum(col("__gm")).over(wg), lit(0L)))
    ranked.join(broadcast(gstats), col("group") <=> col("__g"))
      .withColumn("bucket",
        expr("CASE ((_rank - __g0) * 3) div __gm WHEN 0 THEN 'head' " +
          "WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .select(col(idCol), col("group"), col("n_bigrams"), col("n_backoff"),
        col("neg_logp_sum"), col("ppt_micro"), col("bucket"))
  }

  /** Keep only the `head` + `middle` buckets of [[ccnetBuckets]] — the
    * CCNet pretraining selection. Documents too short to score (< 2
    * tokens) are dropped with the tail: no LM evidence, no keep. */
  def ccnetFilter(train: DataFrame, df: DataFrame, idCol: String,
                  textCol: String = "text",
                  groupCol: Option[String] = None,
                  alpha: Double = 0.4): DataFrame =
    df.join(ccnetBuckets(train, df, idCol, textCol, groupCol, alpha)
        .filter(col("bucket") =!= "tail").select(col(idCol)),
      Seq(idCol), "left_semi")

  /**
   * Per-document top-k terms by TF-IDF — keyword extraction / topical
   * fingerprinting. idf = ln((N+1)/(df_t+1)) rounded to 6 dp as DECIMAL;
   * score = tf × idf stays exact decimal, so ranking ties break
   * deterministically on the term. Document frequency is a distinct-explode
   * word count (map-side combine); N broadcasts as a 1-row aggregate —
   * nothing driver-side.
   */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val tfDoc = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfTerm = tok.distinct().groupBy("w").agg(count(lit(1)).as("df_t"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("w").asc)
    tfDoc.join(broadcast(dfTerm), Seq("w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("_idf",
        round(log((col("n_docs") + 1).cast("double") / (col("df_t") + 1)), 6)
          .cast("decimal(18,6)"))
      .withColumn("tfidf", col("tf") * col("_idf"))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= topK)
      .select(col(idCol), col("term_rank"), col("w").as("term"),
        col("tfidf").cast("double").as("tfidf"))
  }

  /**
   * BM25 ranked retrieval over the corpus for a bag of query terms — "find
   * the training documents most relevant to X" as one scan + top-k.
   * Okapi BM25 with the standard k1/b defaults; idf uses the
   * `ln(1 + (N − df + 0.5)/(df + 0.5))` form (always positive).
   *
   * Determinism: idf and each per-term partial score round to 6 dp into
   * DECIMAL before the per-document sum, so scores are exact and the final
   * (score desc, id asc) top-k is total-ordered. Per-row double arithmetic
   * (length norm, saturation) is pure IEEE — identical on any engine.
   *
   * Scale: the query's term list is tiny (a broadcast IN-filter on the
   * token stream); per-document length and the final sum shuffle by id
   * once; top-k plans as TakeOrderedAndProject.
   */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = terms.distinct
    // TWO tokenize passes instead of four (r15): the r14-audited plan
    // tokenized the corpus for the postings, AGAIN for the per-term
    // document frequencies (tfDf feeds two consumers inside
    // bm25FromPostings), and TWICE more for the document lengths (join +
    // N/avgdl aggregate). Pinning the two SMALL frames — tfDf is
    // query-term hits only, dlDf is one (id, int) row per document —
    // removes both repeats for megabyte-class cache cost. (A one-pass
    // per-document restructure was measured and rejected: 1.6× slower at
    // sf0.1 — see unigramLogProb's note; same conclusion.)
    val tfDf = Pin.reuse(df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("w"))
      .filter(col("w").isin(qTerms: _*))
      .groupBy("id", "w").agg(count(lit(1)).as("tf")))
    val dlDf = Pin.reuse(df.select(col(idCol).as("id"),
        tokenCount(col(textCol)).as("dl")))
    bm25FromPostings(tfDf, dlDf, terms, k, k1, b)
      .withColumnRenamed("id", idCol)
  }

  /** BM25 over prebuilt postings — the scorer behind both `bm25Search`
    * (postings derived from raw text) and `Table.textSearch` (postings read
    * from a persisted inverted index), so the two paths agree bit-for-bit
    * by construction. `tfDf` = (id, w, tf), one row per (doc, term);
    * `dlDf` = (id, dl) for EVERY document (it defines N and avgdl). */
  def bm25FromPostings(tfDf: DataFrame, dlDf: DataFrame,
                       terms: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = terms.distinct
    val tf = tfDf.filter(col("w").isin(qTerms: _*))
    val stats = dlDf.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // df_t = documents containing the term (tf rows are unique per (id, w))
    val dfTerm = tf.groupBy("w").agg(count(lit(1)).as("df_t"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = round(log(lit(1.0) +
      (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)), 6)
      .cast("decimal(18,6)")
    val norm = lit(1.0) - b + lit(b) * col("dl") / avgdl
    val sat = (col("tf") * (k1 + 1.0)) / (col("tf") + lit(k1) * norm)
    tf.join(broadcast(dfTerm), Seq("w"))
      .join(dlDf, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", round(idf.cast("double") * sat, 6)
        .cast("decimal(18,6)"))
      .groupBy(col("id"))
      .agg(sum(col("_s")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
  }

  /**
   * Token-frequency estimates from a count-min sketch vs exact counts —
   * the heavy-hitter survey tool when the vocabulary is too large to
   * aggregate exactly (trillions of tokens, billions of distinct n-grams).
   * The sketch is Spark's codegen'd `count_min_sketch` aggregate (map-side
   * partial merge, fixed eps×confidence memory independent of
   * cardinality); estimates decode driver-side from the merged binary.
   *
   * Returns (term, exact_count, cms_estimate): the CMS guarantee is
   * estimate ≥ exact, and ≤ exact + ⌈ε·N⌉ w.p. ≥ confidence — with a
   * fixed seed the whole computation is deterministic, so the gate can pin
   * exact equality on a small-vocabulary corpus.
   */
  def heavyHitterEstimates(df: DataFrame, textCol: String,
                           terms: Seq[String], eps: Double = 0.001,
                           confidence: Double = 0.99,
                           seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tok = df.select(explode(tokens(col(textCol))).as("w"))
    val sketchBytes = tok
      .agg(expr(s"count_min_sketch(w, ${eps}d, ${confidence}d, $seed)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val est = terms.map(t =>
      t -> cms.estimateCount(t.getBytes("UTF-8"))).toMap
    val estDf = est.toSeq.toDF("w", "cms_estimate")
    // estDf (the preserved side) on the LEFT, counts broadcast on the
    // right: a broadcast hint on the preserved side of an outer join is
    // unsupported (build-right for right-outer) and logs a hint error
    estDf
      .join(broadcast(tok.filter(col("w").isin(terms: _*))
        .groupBy("w").agg(count(lit(1)).as("exact_count"))), Seq("w"), "left")
      .select(col("w").as("term"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cms_estimate"))
      .orderBy("term")
  }

  /** One-pass DATASET-CARD summary of a text corpus (the numbers a
    * training-data release documents): doc/token/char totals, exact-dup
    * cardinality, and the token-length envelope. Single aggregate with
    * map-side partials — integer-exact, so an external engine reproduces
    * it bit-for-bit; pair with [[analyze]] / [[topNgrams]] /
    * `heavyHitterEstimates` for the per-doc and vocabulary views. */
  def corpusReport(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = size(split(col(textCol), " "))
    df.agg(
      count(lit(1)).as("n_docs"),
      sum(toks.cast("long")).as("total_tokens"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      count_distinct(md5(col(textCol))).as("distinct_docs"),
      max(toks.cast("long")).as("max_doc_tokens"),
      min(toks.cast("long")).as("min_doc_tokens"))
  }

  /** Per-source dataset-card rows — the breakdown [[corpusReport]] totals
    * over, and exactly the shape `Curation.domainMix` consumes when
    * balancing sources: per source, doc/token/distinct counts, the
    * source's share of corpus tokens, the token-length envelope, and
    * exact quality-score quartiles.
    *
    * 100-TB shape: ONE hash aggregation keyed by source (map-side
    * combine), then a metadata-sized window (one row per source) for the
    * share denominator. The quartiles use exact `percentile` over the
    * quality score QUANTIZED to 6 dp and SCALED to integer micro-units —
    * a bounded domain (≤ 10⁶+1 distinct values), so the per-group
    * percentile state stays bounded no matter how many documents a source
    * has; and quartile interpolation over integers with quarter-valued
    * fractions is EXACT double arithmetic, immune to the
    * interpolation-order half-ulp that makes interpolated quantiles of
    * raw doubles engine-dependent at rounding boundaries. */
  def corpusReportBySource(df: DataFrame, sourceCol: String = "source",
                           textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prepared = df.select(col(sourceCol).as("source"),
      col(textCol).as("__text"),
      size(split(col(textCol), " ")).cast("long").as("__nt"),
      round(qualityScore(col(textCol)) * 1e6).cast("long").as("__qi"))
    def quart(p: String) =
      round(expr(s"percentile(__qi, $p)") / 1e6, 6)
    // distinct_docs runs as its OWN aggregation and joins back on the
    // metadata-sized per-source rows: a count_distinct in the main agg
    // would make Catalyst expand the whole aggregation to per-(source,
    // md5) keys, dragging the percentile buffers through one group per
    // DISTINCT TEXT — harmless here, corpus-sized state waste at 100 TB.
    val distincts = prepared
      .select(col("source"), md5(col("__text")).as("__h")).distinct()
      .groupBy("source").agg(count(lit(1)).as("distinct_docs"))
    val per = prepared.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("__nt")).as("total_tokens"),
      max(col("__nt")).as("max_doc_tokens"),
      min(col("__nt")).as("min_doc_tokens"),
      quart("0.25").as("q25_quality"),
      quart("0.50").as("q50_quality"),
      quart("0.75").as("q75_quality"))
      // null-safe: a NULL source is a legitimate report row (both aggs
      // grouped it); a plain equi-join would silently drop it and the
      // breakdown would no longer sum to corpusReport's totals
      .join(distincts.withColumnRenamed("source", "__dsrc"),
        col("source") <=> col("__dsrc"))
      .drop("__dsrc")
    per.withColumn("token_share",
        round(col("total_tokens").cast("double")
          / sum(col("total_tokens")).over(Window.partitionBy(lit(0))), 6))
      .select("source", "n_docs", "total_tokens", "token_share",
        "distinct_docs", "max_doc_tokens", "min_doc_tokens",
        "q25_quality", "q50_quality", "q75_quality")
  }

  /** Per-document repetition signals (Gopher-style quality filters):
    * duplicate-word fraction and the most-frequent-bigram share. One native
    * single-pass expression per row (`RepetitionStats`) — no per-token
    * shuffle, no interpreted lambdas; a repetitive (low-quality) document
    * scores high on both. */
  def repetitionStats(df: DataFrame, idCol: String,
                      textCol: String = "text"): DataFrame = {
    val r = graft.functions.RepetitionStats.repetitionStats(col(textCol))
    df.withColumn("__rep", r)
      .select(col(idCol),
        col("__rep.n_words").as("n_words"),
        round(lit(1.0) - col("__rep.n_distinct").cast("double")
          / col("__rep.n_words"), 6).as("dup_word_frac"),
        round(col("__rep.top_bigram").cast("double")
          / col("__rep.n_bigrams"), 6).as("top_bigram_frac"))
  }
}
