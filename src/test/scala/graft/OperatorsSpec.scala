package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Distances
import graft.llm.{Dedup, Multimodal, Quantization, Similarity, TextAnalysis}
import graft.scan.Pred

/** Unit-level checks for expressions, predicate grammar, and LLM operators. */
class OperatorsSpec extends SparkSpec {

  /** Every message along an exception's cause chain. */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  // ------------------------------------------------------------- distances

  test("distance expressions match hand-computed values (interpreted + codegen)") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 6f, 8f))).toDF("a", "b")
    val r = df.select(
      Distances.l2sq($"a", $"b"), Distances.ip($"a", $"b"),
      Distances.cosineSim($"a", $"b")).head()
    assert(r.getDouble(0) == 9.0 + 16.0 + 25.0)
    assert(r.getDouble(1) == 4.0 + 12.0 + 24.0)
    val expCos = 40.0 / math.sqrt(14.0 * 116.0)
    assert(math.abs(r.getDouble(2) - expCos) < 1e-12)
    // null propagation
    val rn = Seq((Option.empty[Array[Float]], Option(Array(1f))))
      .toDF("a", "b").select(Distances.l2sq($"a", $"b")).head()
    assert(rn.isNullAt(0))
  }

  test("distance SQL registration") {
    Distances.register(spark)
    val r = spark.sql(
      "SELECT l2sq(array(1.0F, 2.0F), array(1.0F, 4.0F)) AS d").head()
    assert(r.getDouble(0) == 4.0)
  }

  // ------------------------------------------------- predicate grammar

  test("predicate validator reproduces reference rejections") {
    import Pred._
    // legal: AND of OR-groups, single column per group
    validate(And(Seq(Or(Seq(Eq(Ref("a"), 1), Eq(Ref("a"), 2))), Gt(Ref("b"), 0))))
    // OR across columns rejected (vastdb/_internal.py:280-283)
    intercept[UnsupportedPredicate] {
      validate(Or(Seq(Eq(Ref("a"), 1), Eq(Ref("b"), 2))))
    }
    // NOT only over IS NULL (vastdb/_internal.py:241-246)
    validate(Not(IsNull(Ref("a"))))
    intercept[UnsupportedPredicate] { validate(Not(Eq(Ref("a"), 1))) }
    // contains can't be OR-ed (tests/test_tables.py:1089-1133)
    intercept[UnsupportedPredicate] {
      validate(Or(Seq(Contains(Ref("s"), "x"), Eq(Ref("s"), "y"))))
    }
  }

  test("prefix_to_range matches reference semantics (vastdb/util.py:162-169)") {
    assert(Pred.prefixToRange("abc").contains(("abc", "abd")))
    assert(Pred.prefixToRange("").isEmpty)
    // multi-byte tail increment would produce invalid UTF-8 → no range,
    // the residual startsWith carries exactness
    assert(Pred.prefixToRange("aÿ").isEmpty ||
      Pred.prefixToRange("aÿ").exists(_._2 > "aÿ"))
  }

  test("startswith compiles to a range + residual filter") {
    import spark.implicits._
    val df = Seq("apple", "apricot", "banana", "ax").toDF("s")
    val got = df.filter(Pred.compileStrict(
      Pred.StartsWith(Pred.Ref("s"), "ap"))).collect().map(_.getString(0))
    assert(got.toSet == Set("apple", "apricot"))
  }

  // --------------------------------------------------------------- dedup

  test("minhash LSH finds the planted near-duplicates") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"w$i").mkString(" ") + " x1 x2"
    val distinct = (1 to 60).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // estimated jaccard is in a plausible band around the true ~0.87
    val est = pairs.head.getDouble(2)
    assert(est > 0.6 && est <= 1.0)
  }

  test("duplicateSpans finds shared passages; anchored mode survives misalignment") {
    import spark.implicits._
    // a realistic "paragraph": varied content, no periodicity
    val boiler = (1 to 40).map(i => s"tok$i").mkString(" ") // ~300 chars
    val pad = (c: Char, n: Int) => c.toString * n
    // GRID mode: copies aligned modulo the stride are found
    val aligned = Seq(
      (1L, pad('a', 32) + boiler + pad('b', 40)),
      (2L, pad('c', 64) + boiler + pad('d', 8)),
      (3L, boiler + pad('e', 72)),
      (4L, pad('z', 400))).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(aligned, "doc_id", "text",
      windowLen = 64, stride = 32, minDocs = 2).collect()
    assert(spans.nonEmpty, "aligned shared passage not detected by grid mode")
    // every reported span must genuinely occur in >= 2 docs (no hash-merge)
    val texts = aligned.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    spans.foreach { r =>
      val (win, nd) = (r.getString(0), r.getLong(1))
      val present = texts.values.count(_.contains(win))
      assert(present >= 2 && nd >= 2, s"span claims $nd docs, found $present")
    }
    // the pure-noise doc never contributes a span
    assert(!spans.exists(_.getString(0).contains("z")))
    // and a corpus with no repeated passages yields nothing
    val clean = Seq((1L, "u" + boiler), (2L, pad('b', 400))).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(clean, "doc_id", "text", 64, 32).isEmpty)

    // MISALIGNED copies (pads 13/27/0 — no two congruent mod 32): the grid
    // can only match by luck; CONTENT anchors select positions from the
    // passage text itself, so every occurrence produces identical windows
    val misaligned = Seq(
      (1L, pad('a', 13) + boiler + pad('b', 40)),
      (2L, pad('c', 27) + boiler + pad('d', 8)),
      (3L, boiler + pad('e', 72)),
      (4L, pad('z', 400))).toDF("doc_id", "text")
    val anchored = Dedup.duplicateSpansAnchored(misaligned, "doc_id", "text",
      windowLen = 64, anchorGram = 16, density = 8, minDocs = 2).collect()
    assert(anchored.nonEmpty, "misaligned shared passage not detected by anchors")
    val mtexts = misaligned.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    anchored.foreach { r =>
      val present = mtexts.values.count(_.contains(r.getString(0)))
      assert(present >= 2, s"anchored span not genuinely shared: ${r.getString(0)}")
    }
    // in-passage windows appear in all three carriers
    assert(anchored.exists(_.getLong(1) == 3),
      s"expected a span reaching all 3 docs: ${anchored.map(_.getLong(1)).toSeq}")
  }

  test("simhash: reordering words keeps the signature (multiset-invariant)") {
    import spark.implicits._
    val df = Seq(("a b c d e f g h"), ("h g f e d c b a"), ("q r s t u v w x"))
      .toDF("text")
    val sims = df.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(sims(0) == sims(1))
    assert(sims(0) != sims(2))
  }

  test("exact keep-first dedup") {
    import spark.implicits._
    val docs = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("id", "text")
    val kept = Dedup.exactKeepFirst(docs, "text", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  // ---------------------------------------------------------- similarity

  test("ann LSH recall vs exact knn on clustered vectors") {
    import spark.implicits._
    // clustered data (LSH needs structure): 10 clusters × 30 points
    val rnd = new scala.util.Random(7)
    val rows = for (c <- 0 until 10; i <- 0 until 30) yield {
      val center = Array.fill(16)(0f).updated(c % 16, 10f)
      (c * 100L + i, center.map(v => v + rnd.nextFloat() * 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnJoin(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.annLsh(df, queries, "vec_id", "embedding",
        k = 5, dim = 16, planes = 8, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low: $recall")
  }

  test("ivf recall vs exact knn on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for (c <- 0 until 10; i <- 0 until 30) yield {
      val center = Array.fill(16)(0f).updated(c % 16, 10f)
      (c * 100L + i, center.map(v => v + rnd.nextFloat() * 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnJoin(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val (centroids, assigned) =
      Similarity.ivfIndex(df, "vec_id", "embedding", nCentroids = 20)
    val approx = Similarity.ivfSearch(assigned, centroids, queries,
        "vec_id", "embedding", k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
    // k-means refinement: recall with FEWER probes must still hold
    val (c2, a2) =
      Similarity.ivfIndex(df, "vec_id", "embedding", nCentroids = 20, refineIters = 2)
    val approx2 = Similarity.ivfSearch(a2, c2, queries,
        "vec_id", "embedding", k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall2 = (exact & approx2).size.toDouble / exact.size
    assert(recall2 >= 0.9, s"refined IVF recall too low: $recall2")
  }

  // ------------------------------------------------------------ asof join

  test("asOfJoin: latest right row at-or-before left time; null before first") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L))
      .toDF("event_id", "k", "t_l")
    val right = Seq((10L, 100L, "a"), (10L, 200L, "b"), (20L, 60L, "c"))
      .toDF("k", "t_r", "v")
    val got = graft.ops.Relational
      .asOfJoin(left, right, "k", "t_l", "t_r", Seq("v"))
      .select("event_id", "asof_v").orderBy("event_id").collect()
    // t=100 matches right at exactly 100 (inclusive); t=205 → latest is 200;
    // t=50 precedes all right rows for k=20 → null
    assert(got.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("a"), Some("b"), None))
  }

  test("asOfJoin fuzz: 200 random rows match direct per-row lookup") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val left = (0 until 200).map(i =>
      (i.toLong, (rnd.nextInt(8)).toLong, rnd.nextInt(1000).toLong))
    val right = (0 until 150).map(i =>
      ((rnd.nextInt(8)).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k,t)
    val got = graft.ops.Relational.asOfJoin(
        left.toDF("event_id", "k", "t_l"),
        right.toDF("k", "t_r", "val"),
        "k", "t_l", "t_r", Seq("val"))
      .select("event_id", "asof_val").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    left.foreach { case (id, k, t) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(id) == want, s"row $id (k=$k, t=$t)")
    }
  }

  test("minhash estimate tracks true jaccard within statistical bounds") {
    import spark.implicits._
    // word-level shingles (n=1): sets with controlled overlap
    def doc(ids: Range): String = ids.map(i => s"w$i").mkString(" ")
    val pairs = Seq(
      (doc(0 until 100), doc(0 until 100), 1.0),      // j = 1
      (doc(0 until 100), doc(50 until 150), 1.0 / 3), // j = 50/150
      (doc(0 until 100), doc(80 until 180), 0.1111),  // j = 20/180
    )
    pairs.zipWithIndex.foreach { case ((a, b, trueJ), i) =>
      val df = Seq((1L, a), (2L, b)).toDF("id", "text")
      val sigs = df.select(
        graft.functions.TextHashes.minhashFromTokens(
          split(col("text"), " "), 64, 1).as("sig"))
        .collect().map(_.getSeq[Long](0))
      val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y } / 64.0
      // 4σ bound at k=64: sqrt(j(1-j)/64)*4 <= 0.25
      assert(math.abs(est - trueJ) < 0.25, s"pair $i: est=$est true=$trueJ")
    }
  }

  // ------------------------------------------------------- text analysis

  test("language ID picks the profile language") {
    import spark.implicits._
    val df = Seq(
      "the cat sat on the mat and it is warm",
      "der hund und die katze ist nicht da",
      "el gato y la casa de los perros",
      "xyzzy plugh quux").toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "es", "und"))
  }

  test("fingerprint is order-sensitive; token stats are exact") {
    import spark.implicits._
    val df = Seq("a b c", "c b a").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
    val stats = Seq("one two three").toDF("text")
      .select(TextAnalysis.tokenCount($"text")).head()
    assert(stats.getInt(0) == 3)
  }

  test("native TokenStats fields equal the HOF formulas they replaced on real documents") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    val t = col("text")
    val toks = split(t, " ")
    val oldStop = round(size(filter(toks, w => w.isin(stopwords.map(lit): _*)))
      .cast("double") / greatest(size(toks), lit(1)), 6)
    val oldFp = aggregate(toks, lit(0L), (acc, w) => xxhash64(acc, w))
    val oldPunct = round(
      (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
        / greatest(length(t), lit(1)), 6)
    val scored = graft.functions.TokenStats.langProfiles.map { case (lang, words) =>
      struct(
        size(array_intersect(array_distinct(split(lower(t), " ")),
          array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = element_at(sort_array(array(scored: _*), asc = false), 1)
    val oldLang = when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
    val pairs = Seq(
      "stop" -> (oldStop, TextAnalysis.stopwordRatio(t)),
      "fp" -> (oldFp, TextAnalysis.fingerprint(t)),
      "punct" -> (oldPunct, TextAnalysis.punctRatio(t)),
      "lang" -> (oldLang, TextAnalysis.langId(t)),
      "n" -> (size(toks),
        graft.functions.TokenStats.tokenStats(t).getField("n_tokens")))
    val cmp = docs.select(col("doc_id") +: pairs.flatMap { case (n, (o, v)) =>
      Seq(o.as(s"old_$n"), v.as(s"new_$n")) }: _*)
    val bad = cmp.where(pairs.map { case (n, _) =>
      !(col(s"old_$n") <=> col(s"new_$n")) }.reduce(_ || _))
    assert(cmp.count() == 500)
    assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
  }

  test("gopher rules: each rule falsifies independently; filter keeps clean doc") {
    import spark.implicits._
    val base = Seq.fill(5)(
      "the quick brown fox jumps over lazy sleeping dogs of green field")
      .mkString(" ")
    val docs = Seq(
      (0L, base, "passes"),
      (1L, "the quick brown fox of", "word_count_ok"),
      (2L, (Seq.fill(58)("ab") ++ Seq("the", "of")).mkString(" "),
        "mean_word_len_ok"),
      (3L, base + " " + Seq.fill(10)("#").mkString(" "), "symbol_ratio_ok"),
      // bullet rule removes bullet-DOMINATED pages (>90% of lines):
      // 10 bullet lines out of 11 = 0.909
      (4L, base + (1 to 10).map(i => s"\n- bullet item number$i").mkString,
        "bullet_lines_ok"),
      (5L, base + "\nto be continued...\nand then more..." +
        "\nyet more waiting...\nhello there", "ellipsis_lines_ok"),
      (6L, base + " " + Seq.fill(20)("123").mkString(" "), "alpha_word_ok"),
      (7L, Seq.fill(5)("zebra lion tiger eagle shark puma deer crane " +
        "mouse otter bison camel").mkString(" "), "has_stopwords"))
    val df = docs.map(d => (d._1, d._2)).toDF("id", "text")
    val flags = df.withColumn("g", TextAnalysis.gopherRules($"text"))
      .select(col("id"), col("g.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val names = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_lines_ok", "ellipsis_lines_ok", "alpha_word_ok",
      "has_stopwords")
    assert(flags(0L).getAs[Boolean]("passes"))
    names.foreach(nm =>
      assert(flags(0L).getAs[Boolean](nm), s"base must pass $nm"))
    docs.drop(1).foreach { case (id, _, broken) =>
      assert(!flags(id).getAs[Boolean](broken), s"doc $id must fail $broken")
      assert(!flags(id).getAs[Boolean]("passes"), s"doc $id must not pass")
      names.filterNot(_ == broken).foreach(nm =>
        assert(flags(id).getAs[Boolean](nm),
          s"doc $id must still pass $nm (only $broken may fail)"))
    }
    val kept = TextAnalysis.gopherFilter(df).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(0L), s"filter must keep exactly the clean doc: $kept")
    // separate-symbol semantics: hash 4/68≈0.059 and ellipsis 4/68≈0.059
    // (combined 0.118) must PASS — the paper tests each symbol alone
    val sym = Seq((8L, base + " ... ... ... ... # # # #")).toDF("id", "text")
      .select(TextAnalysis.gopherRules($"text").getField("passes"))
      .head.getBoolean(0)
    assert(sym, "sub-threshold per-symbol ratios must pass the symbol rule")
  }

  test("gopher repetition rules: dup lines, top n-grams, dup-gram coverage") {
    import spark.implicits._
    def flags(text: String) = Seq((1L, text)).toDF("id", "text")
      .select(TextAnalysis.gopherRepetitionRules($"text").as("g"))
      .select(col("g.*")).head
    val distinctDoc = (0 until 40).map(i => s"tok$i").mkString(" ")
    val clean = flags(distinctDoc +
      "\nsecond line unique\nthird line different")
    assert(clean.getAs[Boolean]("passes"), s"clean doc must pass: $clean")
    // 2 of 4 lines duplicate the first (0.5 > 0.30)
    val dl = flags("same line here\nsame line here\nsame line here\n"
      + distinctDoc)
    assert(!dl.getAs[Boolean]("dup_line_frac_ok"))
    assert(!dl.getAs[Boolean]("passes"))
    // bigram-dominated text: "x y" covers every other window
    val tb = flags(Seq.fill(30)("x y").mkString(" "))
    assert(!tb.getAs[Boolean]("top2gram_ok"))
    // one repeated 5-gram (coverage 20/70 > 0.15) and NO repeated 6-gram
    val five = "a1 a2 a3 a4 a5 " +
      (0 until 20).map(i => s"b$i").mkString(" ") + " a1 a2 a3 a4 a5"
    val f5 = flags(five)
    assert(!f5.getAs[Boolean]("dup5gram_ok"))
    assert(f5.getAs[Boolean]("dup6gram_ok"),
      "the repeated run is exactly 5 tokens — 6-gram coverage must be clean")
    // empty text: zero denominators read as zero fractions → passes
    assert(flags("").getAs[Boolean]("passes"))
  }

  test("GopherStats native pass equals the HOF column formulation") {
    import spark.implicits._
    val docs = Seq(
      "", " ", "the quick brown fox.", "a  b   c",
      "línea única con acentos…",
      "- bullet\n* star\n• dot bullet\n  - indented",
      "ends with dots...\nends with hellip…\nno end\nspaced dots...  ",
      "#### #hash# tags", ".....", "..", "…", "a…b...c", "..…..",
      "trailing newline\n", "\n\nleading empties",
      "THE BE TO OF AND THAT HAVE WITH extra the",
      "中文 字符 测试 the of", "tab\tseparated tokens here")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
    // the HOF reference spelling — exactly what the ta15 oracle mirrors
    val toks = split(col("text"), " ")
    val lines = split(col("text"), "\n")
    def substrCount(c: org.apache.spark.sql.Column, pat: String) =
      (length(c) - length(replace(c, lit(pat), lit("")))) / pat.length
    val ref = df.select(col("id"),
      size(toks).as("n_tokens"),
      aggregate(toks, lit(0L), (a, t) => a + length(t))
        .as("sum_token_chars"),
      substrCount(col("text"), "#").cast("int").as("n_hash"),
      (substrCount(col("text"), "...") + substrCount(col("text"), "…"))
        .cast("int").as("n_ellipsis"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).as("n_alpha_tokens"),
      size(array_intersect(array_distinct(transform(toks, t => lower(t))),
        array(TextAnalysis.gopherStopSet.map(lit): _*))).as("n_stop_hits"),
      size(lines).as("n_lines"),
      size(filter(lines, l => startswith(ltrim(l), lit("-")) ||
        startswith(ltrim(l), lit("*")) || startswith(ltrim(l), lit("•"))))
        .as("n_bullet_lines"),
      size(filter(lines, l => endswith(rtrim(l), lit("...")) ||
        endswith(rtrim(l), lit("…")))).as("n_ellipsis_lines"))
    val nat = df.select(col("id"),
        graft.functions.GopherStats.gopherStats(col("text")).as("g"))
      .select(col("id"), col("g.*"))
    val r = ref.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    val n = nat.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    assert(n == r, s"native vs HOF mismatch:\n native=$n\n ref=$r")
  }

  // ---------------------------------------------------------- multimodal

  test("multimodal feature extraction plumbing (stubbed decoder)") {
    import spark.implicits._
    val df = Seq((1L, "hello media"), (2L, "")).toDF("id", "txt")
      .withColumn("media", $"txt".cast("binary"))
    val feats = Multimodal.extractFeatures(df, "id", "media")
      .orderBy("id").collect()
    assert(feats.length == 2)
    assert(feats(0).getInt(1) == 11) // byte length
    assert(feats(0).getSeq[Float](2).length == 8)
    assert(feats(1).getSeq[Float](2).forall(_ == 0f)) // empty input
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(df, "id", "media")
      .orderBy("id").collect()
    assert(feats(0).getSeq[Float](2) == again(0).getSeq[Float](2))
  }

  test("decodeImage: real javax.imageio decode — channel means and grid cells") {
    // 4×2 gradient, hand-computable: row 0 = (0,0,0),(40,0,0),(80,0,0),(120,0,0)
    //                                row 1 = (0,200,0),(40,200,0),(80,200,0),(120,200,0)
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 2)
      img.setRGB(x, y, ((x * 40) << 16) | (if (y == 1) 200 << 8 else 0))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val feats = Multimodal.decodeImage(out.toByteArray).get.map(_.toDouble)
    def ~=(a: Double, b: Double) = math.abs(a - b) < 1e-6
    assert(~=(feats(0), 60.0 / 255))                   // mean R
    assert(~=(feats(1), 100.0 / 255))                  // mean G
    assert(~=(feats(2), 0.0))                          // mean B
    assert(~=(feats(3), 160.0 / 3 / 255))              // mean luminance
    // cells split at ceil(w/2)=2, ceil(h/2)=1: TL = {(0,0),(40,0)} etc.
    assert(~=(feats(4), 20.0 / 3 / 255))               // TL: (0+40)/2 /3
    assert(~=(feats(5), 100.0 / 3 / 255))              // TR: (80+120)/2 /3
    assert(~=(feats(6), 220.0 / 3 / 255))              // BL: (200+240)/2 /3
    assert(~=(feats(7), 300.0 / 3 / 255))              // BR: (280+320)/2 /3
    // BMP decodes through the same path; non-image payloads return None and
    // extractFeatures falls back to the stub
    val bmp = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bmp)
    val viaBmp = Multimodal.decodeImage(bmp.toByteArray).get
    assert(feats.zip(viaBmp).forall { case (a, b) => ~=(a, b) })
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decode("not an image".getBytes)
      .sameElements(Multimodal.decodeStub("not an image".getBytes)))
    // truncated PNG (valid magic, broken stream) must not crash the task
    assert(Multimodal.decodeImage(out.toByteArray.take(20)).isEmpty)
  }

  test("decodeAudio: real javax.sound.sampled decode — energy, crossings, envelope") {
    // square wave: amplitude 64·256 → normalized 64/128 = 0.5 exactly;
    // half-period 6 over 1680 samples → 280 blocks, 279 sign changes
    val wav = SparkEntry.squareWav(64 * 256, 6, 1680)
    val f = Multimodal.decodeAudio(wav).get
    assert(f(0) == 0.5f, s"rms ${f(0)}")
    assert(f(1) == 279f, s"crossings ${f(1)}")
    assert(f(2) == 0.5f, s"peak ${f(2)}")
    assert(f(3) == 0f, s"dc offset ${f(3)}")
    assert((4 to 7).forall(i => f(i) == 0.5f), "quarter envelope not uniform")
    // a half-amplitude second half shows in the envelope quarters
    val loud = SparkEntry.squareWav(64 * 256, 6, 840)
    val quiet = SparkEntry.squareWav(32 * 256, 6, 840)
    def pcm(b: Array[Byte]) = { // payload after the 44-byte canonical header
      java.util.Arrays.copyOfRange(b, 44, b.length)
    }
    val both = SparkEntry.squareWav(0, 6, 1680) // header for 1680 samples
    System.arraycopy(pcm(loud), 0, both, 44, 840 * 2)
    System.arraycopy(pcm(quiet), 0, both, 44 + 840 * 2, 840 * 2)
    val env = Multimodal.decodeAudio(both).get
    assert(env(4) == 0.5f && env(5) == 0.5f, "loud half")
    assert(env(6) == 0.25f && env(7) == 0.25f, "quiet half")
    // stereo mixes down: L = 0.5, R = 0 each frame → mono 0.25
    val stereo = {
      val data = new Array[Byte](100 * 4)
      var i = 0
      while (i < 100) {
        val s = if ((i / 5) % 2 == 0) 64 * 256 else -64 * 256
        data(4 * i) = (s & 0xFF).toByte
        data(4 * i + 1) = ((s >> 8) & 0xFF).toByte
        // right channel stays 0
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, 100L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val st = Multimodal.decodeAudio(stereo).get
    assert(st(2) == 0.25f, s"stereo mixdown peak ${st(2)}")
    // non-audio and truncated payloads return None; decode() falls back to
    // the stub rather than crashing the task
    assert(Multimodal.decodeAudio("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(wav.take(20)).isEmpty)
    assert(Multimodal.decode(wav).sameElements(f))
  }

  test("TPC-H subquery shapes decorrelate to joins, no cartesian") {
    val dir = sf("sf0.001")
    // q17/q20: correlated scalar aggregates; q18: HAVING-subquery IN;
    // q21: EXISTS/NOT-EXISTS with non-equi residual; q2: correlated MIN
    // over a 5-table join; q4: plain EXISTS; q11: HAVING vs scalar
    // re-aggregation; q15: aggregate joined with MAX of itself; q16: NOT IN
    // exclusion; q22: anti join + scalar average over another slice
    for (name <- Seq("q_tpch_q17", "q_tpch_q20", "q_tpch_q18", "q_tpch_q21",
        "q_tpch_q2", "q_tpch_q4", "q_tpch_q11", "q_tpch_q15", "q_tpch_q16",
        "q_tpch_q22")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows — the gate would be vacuous")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name decorrelation fell back to a cartesian product:\n$plan")
      // the correlated aggregate must have become an equi-join (hash or
      // sort-merge), i.e. a decorrelated aggregate join — and never a
      // nested-loop re-execution per outer row
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$name has no equi-join in the decorrelated plan:\n$plan")
    }
  }

  test("gifFrames: real multi-frame decode; frameSample falls back to stub") {
    // 5 solid frames, shades 10,20,30,40,50
    val gif = SparkEntry.animatedGif((1 to 5).map(i =>
      (i * 10 << 16) | (i * 10 << 8) | i * 10))
    val frames = Multimodal.gifFrames(gif).get
    assert(frames.size == 5)
    assert((frames(0).getRGB(3, 3) & 0xFF) == 10)
    assert((frames(4).getRGB(0, 7) & 0xFF) == 50)
    // sampling every 2nd frame: indices 0,2,4 — re-encoded PNG, decodable
    val sampled = Multimodal.frameSample(gif, 2)
    assert(sampled.length == 3)
    val feats = sampled.map(Multimodal.decodeImage(_).get)
    assert(feats.map(f => math.round(f(0) * 255)).toSeq == Seq(10L, 30L, 50L))
    // non-GIF payloads take the stub slicing path unchanged
    val opaque = Array.fill[Byte](1024)(7)
    assert(Multimodal.frameSample(opaque, 2).map(_.toSeq).toSeq ==
      Multimodal.frameSampleStub(opaque, 2).map(_.toSeq).toSeq)
    // truncated GIF (valid magic, broken stream) must not crash the task
    assert(Multimodal.gifFrames(gif.take(20)).isEmpty)
  }

  test("sampleAudioWindows: real per-window PCM features, overlap, partial tail") {
    import spark.implicits._
    // 1000 samples, window 400, hop 300 → windows at 0,300,600,900 with
    // sizes 400,400,400,100 (trailing partial emitted with true n_samples)
    val wav = SparkEntry.squareWav(64 * 256, 5, 1000)
    val df = Seq((7L, wav)).toDF("id", "media")
    val rows = Multimodal.sampleAudioWindows(df, "id", "media",
      windowSamples = 400, hopSamples = 300).orderBy("window_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
    assert(rows.map(_.getInt(2)).toSeq == Seq(400, 400, 400, 100))
    // square wave: every window has rms = peak = 0.5 exactly; a 400-sample
    // window aligned to the 10-sample period has 400/5-1 = 79 crossings
    val f0 = rows(0).getSeq[Float](3)
    assert(f0(0) == 0.5f && f0(2) == 0.5f && f0(1) == 79f && f0(3) == 0f)
    // window 3 starts at 900 (≡ 0 mod 10): 100 samples → 19 crossings
    assert(rows(3).getSeq[Float](3).apply(1) == 19f)
    // non-WAV payloads produce no rows
    assert(Multimodal.sampleAudioWindows(
      Seq((1L, "not audio".getBytes)).toDF("id", "media"),
      "id", "media", 400).isEmpty)
  }

  test("aviFrames: real RIFF demux — lossless DIB frames, MJPEG frames, meta") {
    // DIB path: solid grays decode EXACTLY through the BMP wrap
    val avi = SparkEntry.miniAvi(Seq(10, 30, 50, 70))
    val meta = Multimodal.aviMeta(avi).get
    assert(meta == (("DIB ", 160L, 4, 4, 4)), s"aviMeta: $meta")
    val frames = Multimodal.aviFrames(avi).get
    assert(frames.length == 4)
    val grays = frames.map(f =>
      math.round(Multimodal.decodeImage(f).get.apply(0) * 255))
    assert(grays.toSeq == Seq(10L, 30L, 50L, 70L))
    // frameSample routes AVI through the real demux (every 2nd frame)
    val sampled = Multimodal.frameSample(avi, 2)
    assert(sampled.length == 2 &&
      math.round(Multimodal.decodeImage(sampled(1)).get.apply(0) * 255) == 50L)
    // decode() fingerprints the FIRST frame (keyframe thumbnail), not stub
    assert(math.round(Multimodal.decode(avi)(0) * 255) == 10L)

    // MJPEG path: '00dc' chunks that are standalone JPEGs pass through and
    // decode (lossy codec — solid frames come back within ±3 of the shade)
    def jpeg(g: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8; y <- 0 until 8)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    // splice MJPEG frames into the container: rebuild movi with 00dc chunks
    val mjpegFrames = Seq(40, 200).map(jpeg)
    val mjpeg = {
      // reuse the generator's layout by swapping the movi payload: simplest
      // honest construction is a fresh container with dc chunks
      def le32(v: Long) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      def cc(s: String) = s.getBytes("ISO-8859-1")
      def chunk(t: String, p: Array[Byte]) = {
        val pad = if (p.length % 2 == 1) p :+ 0.toByte else p
        cc(t) ++ le32(p.length) ++ pad
      }
      def list(lt: String, p: Array[Byte]) = chunk("LIST", cc(lt) ++ p)
      val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(2) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(8) ++ le32(8) ++
        new Array[Byte](16))
      val strh = chunk("strh", cc("vids") ++ cc("MJPG") ++ new Array[Byte](48))
      val strf = chunk("strf", le32(40) ++ le32(8) ++ le32(8) ++
        Array[Byte](1, 0, 24, 0) ++ cc("MJPG") ++ new Array[Byte](20))
      val movi = mjpegFrames.map(chunk("00dc", _)).reduce(_ ++ _)
      val body = list("hdrl", avih ++ list("strl", strh ++ strf)) ++
        list("movi", movi)
      cc("RIFF") ++ le32(body.length + 4L) ++ cc("AVI ") ++ body
    }
    assert(Multimodal.aviMeta(mjpeg).get._1 == "MJPG")
    val mf = Multimodal.aviFrames(mjpeg).get
    assert(mf.length == 2)
    val mg = mf.map(f => math.round(Multimodal.decodeImage(f).get.apply(0) * 255))
    assert(math.abs(mg(0) - 40) <= 3 && math.abs(mg(1) - 200) <= 3,
      s"MJPEG round-trip drifted: ${mg.toSeq}")

    // malformed payloads never crash and fall back cleanly
    assert(Multimodal.aviFrames(avi.take(30)).isEmpty)
    assert(Multimodal.aviMeta("RIFFxxxxAVI ".getBytes).isEmpty)
    val opaque = Array.fill[Byte](1024)(7)
    assert(Multimodal.aviFrames(opaque).isEmpty)
  }

  // -------------------------------------------------------- type mapping

  test("type mapping widens unsigned and tags metadata") {
    import graft.types.TypeMapping._
    val st = toSparkSchema(Seq(
      "u" -> LUInt64, "t" -> LTime("ms"), "v" -> LFixedSizeList(LFloat32, 4)))
    assert(st("u").dataType == DecimalType(20, 0))
    assert(st("t").dataType == LongType)
    assert(st("t").metadata.getString(OriginalTypeKey) == "time[ms]")
    assert(st("v").dataType == ArrayType(FloatType, containsNull = false))
    assert(st("v").metadata.getLong(FixedSizeKey) == 4L)
    intercept[UnsupportedTypeException] {
      toSparkSchema(Seq("bad" -> LFixedSizeList(LUtf8, 2)))
    }
  }

  test("saltedJoin matches plain join under a hot key") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    // 90% of probe rows share one key — the canonical skew shape
    val skewed = (0 until 1000)
      .map(i => (if (i < 900) 7L else i.toLong % 50, i.toLong))
      .toDF("k", "payload")
    val other = (0 until 50).map(i => (i.toLong, s"dim$i")).toDF("k", "attr")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "attr").orderBy("k", "payload", "attr")
        .collect().toSeq
    val plain = canon(skewed.join(other, Seq("k")))
    val salted = canon(graft.ops.Relational.saltedJoin(skewed, other, "k", 8))
    assert(salted == plain && plain.nonEmpty)
    // left join keeps unmatched probe rows exactly once
    val skewedPlus = skewed.union(Seq((999L, -1L)).toDF("k", "payload"))
    val leftPlain = canon(skewedPlus.join(other, Seq("k"), "left"))
    val leftSalted = canon(
      graft.ops.Relational.saltedJoin(skewedPlus, other, "k", 8, "left"))
    assert(leftSalted == leftPlain)
    intercept[IllegalArgumentException] {
      graft.ops.Relational.saltedJoin(skewed, other, "k", 8, "full")
    }
  }

  test("rangeJoin matches the theta join incl. granule-boundary intervals") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    // intervals deliberately crossing and exactly touching granule edges
    val points = Seq((1L, 10L, ts(59)), (2L, 10L, ts(60)), (3L, 10L, ts(61)),
      (4L, 20L, ts(200)), (5L, 10L, ts(500)))
      .toDF("pid", "k", "at")
    val intervals = Seq((100L, 10L, ts(0), ts(59)), (101L, 10L, ts(60), ts(120)),
      (102L, 20L, ts(100), ts(300)), (103L, 10L, ts(50), ts(70)))
      .toDF("iid", "k", "lo", "hi")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    val naive = canon(points.join(intervals.withColumnRenamed("k", "k2"),
      col("k") === col("k2") && col("at") >= col("lo") && col("at") <= col("hi")))
    // granule of 1 hour and of 7 minutes (non-divisor) must both agree
    for (g <- Seq(3600000000L, 7L * 60000000L)) {
      val got = canon(graft.ops.Relational.rangeJoin(
        points, intervals, "k", "at", "lo", "hi", granuleMicros = g))
      assert(got == naive && naive.nonEmpty, s"granule $g: $got vs $naive")
    }
    // randomized parity: 300 points x 60 intervals, fixed seed
    val rnd = new scala.util.Random(42)
    val rPoints = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextInt(10000).toLong)))
      .toDF("pid", "k", "at")
    val rIntervals = (0 until 60).map { i =>
      val lo = rnd.nextInt(10000)
      (i.toLong + 1000, rnd.nextInt(5).toLong, ts(lo.toLong),
        ts(lo.toLong + rnd.nextInt(500)))
    }.toDF("iid", "k", "lo", "hi")
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    val rNaive = canon2(rPoints.join(rIntervals.withColumnRenamed("k", "k2"),
      col("k") === col("k2") && col("at") >= col("lo") && col("at") <= col("hi")))
    for (g <- Seq(60000000L, 37L * 60000000L)) {
      val got = canon2(graft.ops.Relational.rangeJoin(
        rPoints, rIntervals, "k", "at", "lo", "hi", granuleMicros = g))
      assert(got == rNaive && rNaive.nonEmpty, s"random parity, granule $g")
    }
  }

  // --------------------------------------------------- connected components

  test("connectedComponents: chains, stars, singleton-free transitive clusters") {
    import spark.implicits._
    // a 40-node chain (worst case for naive propagation), a triangle with a
    // pendant, an isolated pair, and a self-loop that must be ignored
    val chain = (0L until 39L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L), (102L, 103L))
    val pair = Seq((200L, 201L))
    val loop = Seq((300L, 300L))
    val pairs = (chain ++ tri ++ pair ++ loop).toDF("id_a", "id_b")
    val got = graft.llm.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 40L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    Seq(100L, 101L, 102L, 103L).foreach(i => assert(got(i) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got(300L) == 300L) // self-loop: its own singleton component
    assert(got.size == 47) // 40 chain + 4 triangle/pendant + 2 pair + 1 loop
    // brute-force parity on a random graph
    val rnd = new scala.util.Random(11)
    val redges = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // union-find oracle
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    redges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val members = redges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = members.map(i => i -> members.filter(j => find(j) == find(i)).min).toMap
    val got2 = graft.llm.Dedup.connectedComponents(redges.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == want)
    // null ids (failed casts, null keys) must not NPE the union-find's
    // non-nullable tuple deserializer; the non-null side of a half-null
    // pair still appears in the output, as its own singleton
    val withNulls = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)),
      (java.lang.Long.valueOf(4L), null.asInstanceOf[java.lang.Long]))
      .toDF("id_a", "id_b")
    val got3 = graft.llm.Dedup.connectedComponents(withNulls)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L),
      s"null-id handling broke: $got3")
  }

  test("connectedComponents: one driver action per round, no eager checkpoint pass") {
    import spark.implicits._
    // pin the distributed star loop: this input is far below the r14
    // small-graph cutoff and would otherwise finish on the driver
    // (try/finally at the end of the test restores the conf even when an
    // assertion throws — the shared session must not leak the pin)
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    try {
    // 40-node chain: the deterministic worst case — 7 large-star/small-star
    // rounds to convergence detection (data-dependent but fixed per input)
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    pairs.count() // warm the scan path outside the counted window
    // executions by call-site: "head at Dedup" = a convergence-signature
    // driver action; "localCheckpoint at Dedup" = per-round lazy-checkpoint
    // registration (under AQE its toRdd materializes the round's stages, so
    // the round's REAL work runs here — but only once, with no separate
    // count() pass and no second full-plan action)
    val sigActions = new java.util.concurrent.atomic.AtomicInteger(0)
    val allExecs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          allExecs.incrementAndGet()
          if (s.description.startsWith("head at Dedup")) sigActions.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    graft.llm.Dedup.connectedComponents(pairs)
    // listener bus is async: wait until the count settles
    var last = -1
    var same = 0
    while (same < 4) { // 4 × 250 ms of stability
      Thread.sleep(250)
      if (allExecs.get() == last) same += 1
      else { same = 0; last = allExecs.get() }
    }
    spark.sparkContext.removeSparkListener(l)
    // since pre-contraction landed, AQE coalesces this tiny input into few
    // partitions and the partition-local union-find solves most (often all)
    // of the chain before the loop — the fixpoint is detected in as few as
    // 2 rounds (the floor: convergence needs two equal signatures). The
    // invariant under test is actions-per-round, not the round count: the
    // old eager-per-round formulation ran a separate full materializing
    // pass per round ON TOP of the signature action; the executions bound
    // catches that regression at any round count.
    assert(sigActions.get() >= 2,
      s"expected an iterative run, saw ${sigActions.get()} signature actions")
    assert(sigActions.get() <= 10,
      s"${sigActions.get()} signature actions: an extra per-round driver " +
        "action crept back in")
    assert(allExecs.get() <= 2 * sigActions.get() + 4,
      s"${allExecs.get()} executions for ${sigActions.get()} rounds: more " +
        "than one materializing action per round is running again")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
  }

  test("connectedComponents: pre-contraction cuts rounds on LSH-shaped clusters") {
    import spark.implicits._
    // LSH candidate output shape: each cluster emits all its pairs with the
    // small id first, so hash-shuffling on id_a co-locates most of a
    // cluster's edges and the partition-local union-find contracts them to
    // stars BEFORE the distributed loop. 60 clusters of 6 nodes each.
    val pairs = (0 until 60).flatMap { c =>
      val ids = (0 until 6).map(i => (c * 100 + i).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toDF("id_a", "id_b")
    pairs.count() // warm the scan path outside the counted window
    // pin the distributed star loop (below the r14 small-graph cutoff);
    // finally restores the conf even when an assertion throws
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    try {
    val sigActions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          if (s.description.startsWith("head at Dedup")) sigActions.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    val got = graft.llm.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // listener bus is async: wait until the count settles
    var last = -1
    var same = 0
    while (same < 4) {
      Thread.sleep(250)
      if (sigActions.get() == last) same += 1
      else { same = 0; last = sigActions.get() }
    }
    spark.sparkContext.removeSparkListener(l)
    (0 until 60).foreach { c =>
      (0 until 6).foreach(i =>
        assert(got((c * 100 + i).toLong) == (c * 100).toLong))
    }
    // convergence detection needs two equal consecutive signatures, so the
    // floor is 2 rounds; without pre-contraction this input took ~5-7
    assert(sigActions.get() <= 4,
      s"${sigActions.get()} rounds on pre-contractable clusters: the " +
        "partition-local union-find stopped doing its job")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
  }

  test("connectedComponents: driver fast path equals the star loop") {
    import spark.implicits._
    // r14 small-graph path: a contracted edge set under the cutoff finishes
    // with a driver union-find + broadcast component map. Same labels as
    // the distributed loop on a random graph, by construction — pinned here
    val rnd = new scala.util.Random(23)
    val redges = (0 until 300)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val pairs = redges.toDF("id_a", "id_b")
    val fast = graft.llm.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.conf.set("spark.graft.cc.localEdgeCutoff", "0")
    val loop =
      try graft.llm.Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      finally spark.conf.unset("spark.graft.cc.localEdgeCutoff")
    assert(fast == loop)
    // the fast path ran zero star rounds: fewer SQL executions than one
    // round would need is implied by the other two listener tests; here the
    // pinned contract is value equality plus the singleton convention
    assert(fast.keySet == redges.flatMap(e => Seq(e._1, e._2)).toSet)
  }

  test("connectedComponents reliable=true survives through the checkpoint dir") {
    import spark.implicits._
    // reliable rounds write RDD checkpoints to the configured dir (replicated
    // storage on a real cluster) instead of executor-local blocks
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = graft.llm.Dedup.connectedComponents(pairs, reliable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the rounds really went through the reliable dir
    assert(graft.api.Table.walkPaths(ckpt).exists(
      java.nio.file.Files.isRegularFile(_)), "no checkpoint files written")
  }

  test("RepetitionStats: native single pass matches the HOF formulation") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a"),                     // all-dup words; "a a" ×3 of 3
      (1L, "one"),                         // 1 token: one slice-cap "bigram"
      (2L, "x y x y x"),                   // "x y"×2, "y x"×2 → top 2 of 4
      (3L, "all distinct words here now")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.repetitionStats(docs, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got(0L) == ((4, 0.75, 1.0)))
    assert(got(1L) == ((1, 0.0, 1.0)))
    assert(got(2L) == ((5, 0.6, 0.5)))
    assert(got(3L) == ((5, 0.0, 0.25))) // 4 distinct bigrams → top 1/4
    // parity with the HOF formulation on real corpus text (both plans)
    val real = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(200)
    val toks = split(col("text"), " ")
    val idx = sequence(lit(0), greatest(size(toks) - 2, lit(0)))
    val bigrams = transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(2))))
    val perGram = real.select(col("doc_id"), explode(bigrams).as("_g"))
      .groupBy("doc_id", "_g").count()
    val refTop = perGram.groupBy("doc_id")
      .agg(round(max("count").cast("double") / sum("count"), 6).as("ref_top"))
    val refDup = real.select(col("doc_id"),
      round(lit(1.0) - size(array_distinct(toks)).cast("double")
        / size(toks), 6).as("ref_dup"))
    val native = graft.llm.TextAnalysis.repetitionStats(real, "doc_id")
    val joined = native.join(refTop, Seq("doc_id")).join(refDup, Seq("doc_id"))
    assert(joined.filter(!(col("top_bigram_frac") <=> col("ref_top")) ||
      !(col("dup_word_frac") <=> col("ref_dup"))).count() == 0)
    assert(joined.count() == 200)
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "a completely different sentence with no overlap here"),
      (2L, "something that ends with brown fox jumps over it"),
      (3L, "short text")).toDF("id", "text")
    val bench = Seq("we saw the brown fox jumps over a fence").toDF("text")
    // n=3: "brown fox jumps" / "fox jumps over" are shared by docs 0 and 2
    val kept = graft.llm.Curation.decontaminate(corpus, "id", "text",
      bench, "text", n = 3).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // minShared=2 still drops both (each shares two distinct grams)
    val kept2 = graft.llm.Curation.decontaminate(corpus, "id", "text",
      bench, "text", n = 3, minShared = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 3L))
    // minShared=3 keeps everything (no doc shares three distinct grams)
    val kept3 = graft.llm.Curation.decontaminate(corpus, "id", "text",
      bench, "text", n = 3, minShared = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set(0L, 1L, 2L, 3L))
  }

  test("pii detect counts and redact placeholders") {
    import spark.implicits._
    val docs = Seq(
      (0L, "mail a@b.io and c.d@e-f.org, host 10.0.0.1, call 555-123-4567"),
      (1L, "ssn 123-45-6789 card 4111 1111 1111 1111"),
      (2L, "clean text with no contact information at all"),
      (3L, "")).toDF("id", "text")
    val det = graft.llm.Pii.detect(docs).orderBy("id")
      .select("n_email", "n_ipv4", "n_cc", "n_ssn", "n_phone", "has_pii")
      .collect()
    assert(det(0).toSeq == Seq(2, 1, 0, 0, 1, true))
    assert(det(1).toSeq == Seq(0, 0, 1, 1, 0, true))
    assert(det(2).toSeq == Seq(0, 0, 0, 0, 0, false))
    assert(det(3).toSeq == Seq(0, 0, 0, 0, 0, false))
    val red = graft.llm.Pii.redact(docs).orderBy("id")
      .select("text_redacted").as[String].collect()
    assert(red(0) == "mail <EMAIL> and <EMAIL>, host <IPV4>, call <PHONE>")
    assert(red(1) == "ssn <SSN> card <CC>")
    assert(red(2) == "clean text with no contact information at all")
    // redaction leaves no residual matches of any pattern
    val again = graft.llm.Pii.detect(
      graft.llm.Pii.redact(docs).select(col("text_redacted").as("text")))
    assert(again.filter(col("has_pii")).count() == 0)
  }

  test("removeBoilerplateLines strips shared lines, keeps order, empties all-boiler docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "unique alpha\ncookie banner\nunique beta"),
      (1L, "cookie banner\nunique gamma"),
      (2L, "cookie banner\nfooter line"),
      (3L, "footer line\ncookie banner"),
      (4L, "totally original content")).toDF("id", "text")
    val out = graft.llm.Curation.removeBoilerplateLines(docs, "id", "text", minDocs = 3)
      .orderBy("id").select("text").as[String].collect()
    // "cookie banner" in 4 docs (>=3) → stripped; "footer line" in 2 → kept
    assert(out(0) == "unique alpha\nunique beta")
    assert(out(1) == "unique gamma")
    assert(out(2) == "footer line")
    assert(out(3) == "footer line")
    assert(out(4) == "totally original content")
    // every line boilerplate → empty doc survives with empty text
    val all = Seq((0L, "x\ny"), (1L, "x\ny"), (2L, "x")).toDF("id", "text")
    val out2 = graft.llm.Curation.removeBoilerplateLines(all, "id", "text", minDocs = 2)
      .orderBy("id").select("text").as[String].collect()
    assert(out2.toSeq == Seq("", "", ""))
  }

  test("chunkByTokens windows + packByBudget boundary packing invariants") {
    import spark.implicits._
    val docs = Seq(
      (0L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (1L, "a b c"),                                  // 3 tokens
      (2L, "")).toDF("id", "text")                    // split("") = [""]
    val ch = graft.llm.Curation.chunkByTokens(docs, "id", "text",
      chunkTokens = 4, stride = 3).orderBy("id", "chunk_idx")
    val rows = ch.collect()
    // doc 0: starts 0,3,6,9 → 4 chunks of 4,4,4,1 tokens
    val d0 = rows.filter(_.getLong(0) == 0L)
    assert(d0.map(_.getLong(2)).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(d0.head.getString(3) == "w1 w2 w3 w4")
    assert(d0(1).getString(3) == "w4 w5 w6 w7") // 8-token? no: stride 3, overlap 1
    assert(d0.last.getString(3) == "w10")
    // doc 1: single chunk, 3 tokens; doc 2 is EMPTY: no phantom chunk
    assert(rows.filter(_.getLong(0) == 1L).map(_.getString(3)).toSeq == Seq("a b c"))
    assert(!rows.exists(_.getLong(0) == 2L))

    val packed = graft.llm.Curation.packByBudget(ch,
      expr("id div 2"), Seq("id", "chunk_idx"), "n_tokens", budget = 5)
    // global order (id, chunk_idx), tokens 4,4,4,1,3 → prefix-before
    // 0,4,8,12,13 → packs 0,0,1,2,2
    val packs = packed.orderBy("id", "chunk_idx")
      .select("pack_id").as[Long].collect().toSeq
    assert(packs == Seq(0L, 0L, 1L, 2L, 2L))
    // invariants: every chunk assigned, packs contiguous from 0
    assert(packed.count() == 5)
    assert(packs.distinct.sorted == Seq(0L, 1L, 2L))
    // bucket-ordering guard: a hash bucket interleaves leading-order ranges
    // across buckets (bucket 0 holds ids {0,2}, bucket 1 holds {1}) and must
    // fail loudly instead of silently misassigning packs
    val ch3 = graft.llm.Curation.chunkByTokens(
      Seq((0L, "a b"), (1L, "c d"), (2L, "e f")).toDF("id", "text"),
      "id", "text", chunkTokens = 4, stride = 3)
    val err = intercept[Exception] {
      graft.llm.Curation.packByBudget(ch3,
        pmod(col("id"), lit(2)), Seq("id", "chunk_idx"), "n_tokens", budget = 5)
        .collect()
    }
    assert(messages(err).exists(_.contains("not a coarsening")),
      s"wrong error: ${messages(err)}")
  }

  test("keepClusterRepresentatives keeps min-id per cluster and all unpaired rows") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((1L, 3L), (3L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = graft.llm.Dedup.keepClusterRepresentatives(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    // clusters {1,3,5}→keep 1, {7,8}→keep 7; unpaired 0,2,4,6,9 survive
    assert(kept == Set(0L, 1L, 2L, 4L, 6L, 9L, 7L))
  }

  test("mp4Meta parses box structure: v0/v1 mvhd, largesize, malformed") {
    import graft.llm.Multimodal
    // v0 layout via the gate harness builder
    val b = SparkEntry.miniMp4(600L, 1200L, Seq("avc1", "mp4a"))
    assert(Multimodal.mp4Meta(b) ==
      Some(("isom", 600L, 2000L, 2, Seq("avc1", "mp4a"))))
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
    def box(t: String, p: Array[Byte]*): Array[Byte] = {
      val body = p.flatten.toArray
      be32(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    }
    // v1 mvhd: 64-bit times/duration, timescale after 16 bytes of times
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0),
      be64(0), be64(0), be32(1000), be64(90000L))
    val v1 = box("ftyp", "mp42".getBytes, be32(0)) ++ box("moov", mvhd1)
    assert(Multimodal.mp4Meta(v1) == Some(("mp42", 1000L, 90000L, 0, Nil)))
    // largesize header (size==1 + 64-bit size) parses and walks past
    val inner = box("mvhd", Array[Byte](0, 0, 0, 0),
      be32(0), be32(0), be32(10), be32(10))
    val large = box("ftyp", "isom".getBytes, be32(0)) ++
      (be32(1) ++ "moov".getBytes("ISO-8859-1") ++
        be64(inner.length + 16L) ++ inner)
    assert(Multimodal.mp4Meta(large) == Some(("isom", 10L, 1000L, 0, Nil)))
    // malformed: truncated box size overruns the buffer -> None (no moov)
    val bad = box("ftyp", "isom".getBytes, be32(0)) ++ be32(9999) ++
      "moov".getBytes("ISO-8859-1")
    assert(Multimodal.mp4Meta(bad).isEmpty)
    // not ISO-BMFF at all
    assert(Multimodal.mp4Meta(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.mp4Meta("GIF89a....".getBytes).isEmpty)
  }

  // ----------------------------------------------- randomized properties

  test("bm25: distributed scorer matches a naive reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu")
    (0 until 3).foreach { trial =>
      val docs = (0 until 40).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(12))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val terms = Seq(vocab(rnd.nextInt(vocab.size)),
        vocab(rnd.nextInt(vocab.size))).distinct
      val got = graft.llm.TextAnalysis.bm25Search(
          docs.toDF("id", "text"), "id", "text", terms, k = 40)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      // naive reference: same formula, same 6-dp decimal staging
      val toks = docs.map { case (id, t) => id -> t.split(' ').toSeq }.toMap
      val n = docs.size
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val want = docs.flatMap { case (id, _) =>
        val dl = toks(id).size
        val s = terms.flatMap { w =>
          val tf = toks(id).count(_ == w)
          if (tf == 0) None
          else {
            val dfT = toks.values.count(_.contains(w))
            val idf = r6(math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5)))
            val sat = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
            Some(r6(idf.toDouble * sat))
          }
        }
        if (s.isEmpty) None else Some(id -> s.sum.toDouble)
      }.toMap
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("bpe: round-trip lossless on random unicode-ish corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(88)
    val alphabet = "abcdeé日本ß".toCharArray
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(6))(
        Seq.fill(1 + rnd.nextInt(8))(
          alphabet(rnd.nextInt(alphabet.length))).mkString).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    val merges = graft.llm.Bpe.train(df, "text", numMerges = 30,
      sampleDocs = 50)
    val bad = df.select($"id", $"text",
        concat_ws("", graft.llm.Bpe.encode($"text", merges)).as("joined"),
        regexp_replace($"text", " ", "").as("squashed"))
      .filter($"joined" =!= $"squashed").count()
    assert(bad == 0, "BPE encode must be lossless for any input")
  }

  test("bpe: merge table is stable across sample sizes (500/1000/2000 docs)") {
    // the "train on a bounded sample" design claims the merge table
    // converges long before corpus scale — measure it: fits at 500, 1000,
    // and 2000 sampled docs of the sf0.01 corpus must agree on the top-50
    // merges IN ORDER and share a long common prefix of the full table
    // (measured: 89/100 identical across all three sizes)
    val path = "/root/testdata/sf0.01/documents.parquet"
    assume(new java.io.File(path).exists(), s"$path not present")
    val df = spark.read.parquet(path)
    val fits = Seq(500, 1000, 2000)
      .map(n => graft.llm.Bpe.train(df, "text", numMerges = 100,
        sampleDocs = n))
    for (Seq(a, b) <- fits.sliding(2)) {
      assert(a.take(50) == b.take(50),
        "top-50 merges must be identical in order across sample sizes")
      val prefix = a.zip(b).takeWhile(p => p._1 == p._2).size
      assert(prefix >= 80,
        s"merge-table common prefix $prefix/100 below the stability bound")
    }
  }

  // ----------------------------------------- codegen/interpreted parity

  test("round-10 native expressions: codegen and interpreted paths agree") {
    import spark.implicits._
    def both(f: => Array[org.apache.spark.sql.Row]): Unit = {
      val gen = f.toSeq
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try assert(f.toSeq == gen, "interpreted result diverged from codegen")
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    // pq_adc: normal lookups + out-of-range code sinking to +Infinity
    val pq = Seq(
      (Seq(0, 1), Seq(Seq(0.5, 1.5), Seq(2.0, 3.0))),
      (Seq(1, 9), Seq(Seq(0.5, 1.5), Seq(2.0, 3.0))))
      .toDF("codes", "lut")
    both(pq.select(graft.functions.PqAdc.pqAdc($"codes", $"lut")).collect())
    // nfc_normalize: decomposed input recomposes, ASCII passes through
    val nf = Seq("cafe\u0301", "plain").toDF("t")
    both(nf.select(graft.functions.NfcNormalize.nfc($"t")).collect())
    // bpe_encode through the rank table
    val bp = Seq("aaab aab ab").toDF("t")
    both(bp.select(graft.llm.Bpe.encode($"t",
      Seq(("a", "a"), ("a", "b"), ("aa", "ab")))).collect())
    // pca_project through a fitted model
    val pdf = Seq((1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(4f, 3f, 2f, 1f)), (3L, Array(0f, 1f, 0f, 1f))).toDF("id", "v")
    val model = graft.llm.Reduction.pcaFit(pdf, "v", dim = 4, k = 2)
    both(pdf.select($"id", graft.llm.Reduction.pcaProject($"v", model))
      .orderBy("id").collect())
    // hash_embedding over token arrays
    val he = Seq("a b b c", "c b b a", "x y z", "").toDF("t")
    both(he.select(graft.llm.TextAnalysis.hashEmbedding($"t", 16)).collect())
    // shingle_hashes: same windows/hashes as the HOF string pipeline
    val sh = Seq("a b c d e", "a b", "").toDF("t")
    both(sh.select(graft.functions.TextHashes.shingleHashes(
      org.apache.spark.sql.functions.split($"t", " "), 3)).collect())
  }

  test("shingle_hashes equals the HOF shingle-string pipeline exactly") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "one two", "single", "").toDF("t")
    val viaHof = df.select(org.apache.spark.sql.functions.array_sort(
      org.apache.spark.sql.functions.array_distinct(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.expr(
            "transform(sequence(0, greatest(size(split(t, ' ')) - 5, 0)), " +
              "i -> concat_ws(' ', slice(split(t, ' '), i + 1, 5)))"),
          s => org.apache.spark.sql.functions.xxhash64(s)))))
      .collect().map(_.getSeq[Long](0))
    val viaNative = df.select(org.apache.spark.sql.functions.array_sort(
        graft.functions.TextHashes.shingleHashes(
          org.apache.spark.sql.functions.split($"t", " "), 5)))
      .collect().map(_.getSeq[Long](0))
    viaHof.zip(viaNative).foreach { case (a, b) =>
      assert(a == b, s"hash sets diverge: $a vs $b")
    }
  }

  test("hash embedding: multiset-invariant, normalized, discriminative") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"),  // same multiset, reordered
      (3L, "a completely different sentence entirely now"),
      (4L, "")).toDF("id", "text")
    val rows = df.select($"id",
        graft.llm.TextAnalysis.hashEmbedding($"text", 64).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(1) == rows(2), "reordering must not change the embedding")
    def dot(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(math.abs(dot(rows(1), rows(1)) - 1.0) < 1e-6, "unit norm")
    assert(dot(rows(1), rows(3)) < 0.5, "distinct text stays far")
    // "" whitespace-tokenizes to [""] — one token, so unit norm (consistent
    // with tokenCount); a truly EMPTY token array gives the zero vector
    assert(math.abs(dot(rows(4), rows(4)) - 1.0) < 1e-6)
    val zero = df.limit(1).select(graft.functions.TextHashes
        .hashEmbedding(typedLit(Array.empty[String]), 16))
      .head().getSeq[Float](0)
    assert(zero.forall(_ == 0f), "empty token array embeds to zero")
  }

  // ------------------------------------------------------------- hybrid rrf

  test("rrf fusion: hand-computed fused ordering and scores") {
    import spark.implicits._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val dense = Seq((30L, 1), (10L, 2), (40L, 3)).toDF("id", "rank")
    val got = graft.llm.Search.rrfFuse(Seq(lex, dense), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // 10: 1/61+1/62 = .032522  30: 1/63+1/61 = .032266
    // 20: 1/62 = .016129       40: 1/63 = .015873
    assert(got.map(_._1).toSeq == Seq(10L, 30L, 20L, 40L))
    assert(math.abs(got(0)._2 - (1.0 / 61 + 1.0 / 62)) < 1e-15)
    assert(math.abs(got(1)._2 - (1.0 / 63 + 1.0 / 61)) < 1e-15)
  }

  // ------------------------------------------------------------- phash

  private def patternImage(seed: Long, fmt: String,
                           noiseAt: Option[(Int, Int, Int)] = None): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val bi = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = rnd.nextInt(256)
      bi.setRGB(x, y, v * 0x010101)
    }
    noiseAt.foreach { case (x, y, d) =>
      val v = math.min(255, math.max(0, (bi.getRGB(x, y) & 0xFF) + d))
      bi.setRGB(x, y, v * 0x010101)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, fmt, bos)
    bos.toByteArray
  }

  test("phash: container-invariant, noise-tolerant, discriminative") {
    import graft.llm.Multimodal
    val png3 = patternImage(3, "png")
    val bmp3 = patternImage(3, "bmp")
    val h1 = Multimodal.pHash64(png3).get
    assert(h1 == Multimodal.pHash64(bmp3).get,
      "identical pixels must hash identically across lossless containers")
    // one-pixel +2 nudge flips at most a couple of bits
    val noisy = Multimodal.pHash64(patternImage(3, "png", Some((5, 9, 2)))).get
    assert(java.lang.Long.bitCount(h1 ^ noisy) <= 3,
      s"noise flipped ${java.lang.Long.bitCount(h1 ^ noisy)} bits")
    // distinct random patterns are far apart
    val h2 = Multimodal.pHash64(patternImage(4, "png")).get
    assert(java.lang.Long.bitCount(h1 ^ h2) > 10)
    // non-images hash to None
    assert(Multimodal.pHash64("not an image".getBytes).isEmpty)
  }

  test("phash pairs: chunk-blocked near-dup join finds planted twins only") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (i, patternImage(i, "png"))) ++
      Seq((1000L, patternImage(3, "bmp")),
        (1001L, patternImage(7, "png", Some((5, 9, 2)))))
    val df = rows.toDF("img_id", "media")
    val pairs = graft.llm.Multimodal
      .imagePhashPairs(df, "img_id", "media", maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 1000L), (7L, 1001L)), s"got $pairs")
  }

  // --------------------------------------------------- audio fingerprint

  /** 16-bit mono PCM WAV from [-1,1] samples. */
  private def wavOf(samples: Array[Double]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      val s = math.max(-32768, math.min(32767, math.round(v * 32767))).toInt
      raw(2 * i) = (s & 0xFF).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Square-ish carrier with a per-segment random envelope: energies vary
    * segment-to-segment so the 64 difference bits are all well-defined. */
  private def clip(seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val amps = Array.fill(33)(0.1 + rnd.nextDouble() * 0.8)
    Array.tabulate(3300) { i =>
      amps(i / 100) * (if (i % 7 < 3) 1.0 else -1.0)
    }
  }

  test("audio fingerprint: gain-invariant, noise-tolerant, discriminative") {
    import graft.llm.Multimodal
    val base = clip(3)
    val h = Multimodal.audioFingerprint64(wavOf(base)).get
    // uniform gain scales every energy by g^2 — comparisons unchanged
    // (quantization of the scaled samples may flip a near-tie bit or two)
    val half = Multimodal.audioFingerprint64(wavOf(base.map(_ * 0.5))).get
    assert(java.lang.Long.bitCount(h ^ half) <= 2, "gain changed the hash")
    // mild additive noise flips only near-tie bits
    val rnd = new scala.util.Random(99)
    val noisy = Multimodal.audioFingerprint64(
      wavOf(base.map(_ + (rnd.nextDouble() - 0.5) * 1e-3))).get
    assert(java.lang.Long.bitCount(h ^ noisy) <= 3)
    // different content is far away
    val other = Multimodal.audioFingerprint64(wavOf(clip(4))).get
    assert(java.lang.Long.bitCount(h ^ other) > 10)
    assert(Multimodal.audioFingerprint64("not audio".getBytes).isEmpty)
  }

  test("audio fingerprint pairs: planted half-gain twin only") {
    import spark.implicits._
    val rows = (0L until 30L).map(i => (i, wavOf(clip(i)))) :+
      (1000L, wavOf(clip(3).map(_ * 0.5)))
    val pairs = graft.llm.Multimodal
      .audioFingerprintPairs(rows.toDF("clip_id", "media"), "clip_id",
        "media", maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 1000L)), s"got $pairs")
  }

  // ---------------------------------------------------------- bigram LM

  test("bigram stupid backoff: seen, backed-off, and OOV paths") {
    import spark.implicits._
    val train = Seq("a b a b c").toDF("text").withColumn("id", lit(0L))
    // c1: a=2 b=2 c=1, N=5; c2: (a,b)=2 (b,a)=1 (b,c)=1
    val score = Seq(
      (1L, "a b"),    // seen: S = c2(a,b)/c1(a) = 2/2 = 1 -> -ln = 0
      (2L, "c a"),    // unseen bigram, seen unigram a: S = .4*2/5 = .16
      (3L, "a zzz"))  // unseen continuation word: S = .4*1/5 = .08
      .toDF("id", "text")
    val r = graft.llm.TextAnalysis.bigramLogProb(train, score, "id")
      .orderBy("id").collect()
    assert(r(0).getLong(1) == 1 && r(0).getLong(2) == 0)
    assert(r(0).getDouble(3) == 0.0)
    assert(r(1).getLong(2) == 1)
    assert(math.abs(r(1).getDouble(3) - (-math.log(0.16))) < 1e-6)
    assert(r(2).getLong(2) == 1)
    assert(math.abs(r(2).getDouble(3) - (-math.log(0.08))) < 1e-6)
  }

  // ------------------------------------------------------------------- pca

  test("pca: recovers planted axes, orthonormal basis, zero residual") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // rank-2 data in 8-d: variance 3 along e0, 1/3 along e5, nothing else
    val rows = (0 until 2000).map { i =>
      val z1 = (rnd.nextDouble() * 6 - 3).toFloat
      val z2 = (rnd.nextDouble() * 2 - 1).toFloat
      (i.toLong, Array(z1, 0f, 0f, 0f, 0f, z2, 0f, 0f))
    }
    val df = rows.toDF("id", "v")
    val m = graft.llm.Reduction.pcaFit(df, "v", dim = 8, k = 2)
    assert(math.abs(m.explainedVariance(0) - 3.0) < 0.3)
    assert(math.abs(m.explainedVariance(1) - 1.0 / 3) < 0.05)
    // axes recovered up to sign
    assert(math.abs(m.components(0)(0)) > 0.999)
    assert(math.abs(m.components(1)(5)) > 0.999)
    // orthonormal
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1) < 1e-9)
    assert(math.abs(dot(m.components(1), m.components(1)) - 1) < 1e-9)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-9)
    // rank-2 data reconstructs exactly from 2 axes
    assert(graft.llm.Reduction.reconstructionMse(df, "v", m) < 1e-6)
    // projection parity with a hand-computed row
    val x = rows.head._2
    val got = df.filter($"id" === 0)
      .select(graft.llm.Reduction.pcaProject($"v", m))
      .head().getSeq[Float](0)
    (0 until 2).foreach { c =>
      val want = (0 until 8).map(j =>
        (x(j) - m.mean(j)) * m.components(c)(j)).sum
      assert(math.abs(got(c) - want) < 1e-5)
    }
  }

  test("pca jacobi: eigenvalues of a known symmetric matrix") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1
    val (vals, vecs) = graft.llm.Reduction.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(vals.sorted.zip(Seq(1.0, 3.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    // eigenvector of 3 is (1,1)/sqrt(2) up to sign
    val ix = vals.indexWhere(v => math.abs(v - 3.0) < 1e-9)
    assert(math.abs(math.abs(vecs(0)(ix)) - math.sqrt(0.5)) < 1e-9)
  }

  // -------------------------------------------------------- semantic dedup

  test("semantic dedup: within-cluster near-dups collapse to min id") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // 8 well-separated clusters x 20 points; within-cluster noise is WIDE
    // in angle (cosine ~0.85 between cluster-mates) so only the planted
    // near-dups cross the 0.999 threshold
    val base = for (c <- 0 until 8; i <- 0 until 20) yield {
      val center = Array.fill(16)(0f).updated(c * 2, 10f)
      (c * 100L + i, center.map(v => v + rnd.nextFloat() * 4f - 2f))
    }
    // near-dup of id 5 (tiny perturbation, cosine ~ 0.9999) and an exact
    // copy of id 203, both with larger ids
    val nearDup = (9005L, base.find(_._1 == 5L).get._2.map(_ + 0.001f))
    val exactDup = (9203L, base.find(_._1 == 203L).get._2)
    val df = (base :+ nearDup :+ exactDup).toDF("vec_id", "embedding")
    val kept = graft.llm.Dedup.semanticDedup(df, "vec_id", "embedding",
        nClusters = 8, threshold = 0.999, refineIters = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(9005L), "near-dup must be pruned")
    assert(!kept.contains(9203L), "exact dup must be pruned")
    assert(kept.contains(5L) && kept.contains(203L),
      "min-id representatives survive")
    assert(kept.size == base.size, "only the planted dups are pruned")
  }

  // ------------------------------------------------------------------- bpe

  test("bpe trainLocal: hand-derived merge sequence incl. tie-breaks") {
    // words: aaab x2, aab x2, ab x1, b x1
    // (a,a)=6 -> merge; (a,b)=3 -> merge; (aa,ab) ties (aa,b) at 2,
    // lexicographic tie-break picks ("aa","ab")
    val merges = graft.llm.Bpe.trainLocal(
      Seq("aaab aaab", "aab", "ab b aab"), 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // merge budget beyond exhaustion stops early instead of looping
    val all = graft.llm.Bpe.trainLocal(Seq("ab ab"), 100)
    assert(all == Seq(("a", "b")))
  }

  test("bpe encodeWord follows merge-rank order, not left-to-right greed") {
    // ranks: (b,c) rank0, (a,b) rank1 — "abc" must merge bc FIRST even
    // though ab appears first in the string
    val ranks = Map(("b", "c") -> 0, ("a", "b") -> 1)
    assert(graft.llm.Bpe.encodeWord("abc", ranks).toSeq == Seq("a", "bc"))
    // after bc merges, (a,bc) isn't a known pair -> stays split
    val ranks2 = Map(("b", "c") -> 0, ("a", "bc") -> 1)
    assert(graft.llm.Bpe.encodeWord("abc", ranks2).toSeq == Seq("abc"))
  }

  test("bpe distributed encode: parity with local path + lossless") {
    import spark.implicits._
    val docs = Seq("the cat sat on the mat", "the bat and the rat",
      "concatenation of the cattle", "scattered matter").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = graft.llm.Bpe.train(docs, "text", numMerges = 20,
      sampleDocs = 10)
    val ranks = merges.zipWithIndex.toMap
    val rows = docs.select($"id", $"text",
      graft.llm.Bpe.encode($"text", merges).as("toks")).collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val got = r.getSeq[String](2)
      val want = text.split(' ').filter(_.nonEmpty)
        .flatMap(w => graft.llm.Bpe.encodeWord(w, ranks)).toSeq
      assert(got == want, s"distributed/local mismatch on '$text'")
      assert(got.mkString("") == text.replace(" ", ""), "lossless")
    }
    // 20 merges on a repetitive corpus must compress vs char-split
    val nChars = rows.map(_.getString(1).replace(" ", "").length).sum
    val nToks = rows.map(_.getSeq[String](2).length).sum
    assert(nToks < nChars)
  }

  test("bpe byte-level: GPT-2 regex pre-tokens, byte table, decode inverse") {
    import graft.llm.Bpe
    // contraction split, space-attachment, digit/letter branch split
    assert(Bpe.byteLevelPretokens("don't stop").toSeq ==
      Seq("don", "'t", "Ġstop"))
    assert(Bpe.byteLevelPretokens("ab 12x").toSeq == Seq("ab", "Ġ12", "x"))
    // \s+(?!\S): in a run of spaces the LAST one glues to the next word
    assert(Bpe.byteLevelPretokens("a  b").toSeq == Seq("a", "Ġ", "Ġb"))
    // trailing whitespace takes the bare \s+ branch (nothing follows)
    assert(Bpe.byteLevelPretokens("a \n").toSeq == Seq("a", "ĠĊ"))
    // byte fallback: é → 0xC3 0xA9 → "Ã©"; table is a bijection
    assert(Bpe.byteLevelPretokens("café").toSeq == Seq("cafÃ©"))
    assert(Bpe.byteToUnicode.toSet.size == 256)
    assert(Bpe.byteToUnicode(' '.toInt) == 'Ġ' && Bpe.byteToUnicode(10) == 'Ċ')
    // decode is the exact inverse INCLUDING whitespace (full losslessness,
    // unlike the whitespace mode) and multi-byte unicode
    for (s <- Seq("the theme", "don't  stop\tnow\n", "café ☕ №42", "",
        "  leading and trailing  ")) {
      assert(Bpe.byteLevelDecode(Bpe.byteLevelPretokens(s).toSeq) == s)
    }
  }

  test("bpe byte-level: train + distributed encode parity, full roundtrip") {
    import spark.implicits._
    import graft.llm.Bpe
    val docs = Seq("the cat sat on the mat", "the bat, the rat — don't!",
      "café 99 times", "scattered   matter\nnewline").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = Bpe.trainByteLevel(docs, "text", numMerges = 25,
      sampleDocs = 10)
    assert(merges.nonEmpty)
    // merges never cross pre-token boundaries — checked EXACTLY: every
    // merged string must occur inside some corpus pre-token (a "no
    // interior Ġ" shortcut would false-fail on legitimate merges within
    // whitespace-run pre-tokens like "ĠĠ")
    val pretokens = docs.collect().flatMap(r =>
      Bpe.byteLevelPretokens(r.getString(1))).toSet
    merges.foreach { case (l, r) =>
      assert(pretokens.exists(_.contains(l + r)),
        s"merge ($l,$r) -> '${l + r}' crosses a pre-token boundary")
    }
    val ranks = merges.zipWithIndex.toMap
    val rows = docs.select($"id", $"text",
      Bpe.encodeByteLevel($"text", merges).as("toks")).collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val got = r.getSeq[String](2)
      val want = Bpe.byteLevelPretokens(text)
        .flatMap(w => Bpe.encodeWord(w, ranks)).toSeq
      assert(got == want, s"distributed/local mismatch on '$text'")
      assert(Bpe.byteLevelDecode(got) == text, "byte-exact roundtrip")
    }
  }

  test("bpe byte-level dense ids: vocab layout, dup-string merges, roundtrip") {
    import spark.implicits._
    import graft.llm.Bpe
    // base layer: id of a single-byte symbol IS the byte value
    val v0 = Bpe.byteLevelVocab(Nil)
    assert(v0.size == 256 && v0("a") == 'a'.toInt && v0("Ġ") == 32)
    // merged symbols take 256+rank; a second merge producing an ALREADY
    // SEEN string does not burn an id (first occurrence wins)
    val dup = Seq(("a", "b"), ("ab", "c"), ("b", "c"), ("a", "bc"))
    val v = Bpe.byteLevelVocab(dup)                // "abc" formed twice
    assert(v("ab") == 256 && v("abc") == 257 && v("bc") == 258)
    assert(v.size == 256 + 3, "duplicate merged string must not take an id")
    // distributed dense-id encode: ids invert byte-exactly through the
    // same merge table, including whitespace runs and multi-byte chars
    val docs = Seq((1L, "the cat — don't stop"), (2L, "café  99\n"))
      .toDF("id", "text")
    val merges = Bpe.trainByteLevel(docs, "text", numMerges = 15,
      sampleDocs = 10)
    val rows = docs.select($"id", $"text",
      Bpe.encodeByteLevelIds($"text", merges).as("ids")).collect()
    rows.foreach { r =>
      val ids = r.getSeq[Int](2)
      assert(ids.forall(i => i >= 0 && i < 256 + merges.length))
      assert(Bpe.byteLevelDecodeIds(ids, merges) == r.getString(1))
    }
  }

  test("bpe pre-token cap: a 200k-char blob encodes bounded and roundtrips") {
    import spark.implicits._
    import graft.llm.Bpe
    // one 200k-char letter run = ONE pre-token under the GPT-2 regex (a
    // base64 blob / DNA string / minified JS — real crawl content);
    // without the MaxPretokenSymbols cap the quadratic encodeWord would
    // spend ~4e10 pair-visits on it and hang the task
    val blob = {
      val rnd = new scala.util.Random(5)
      (0 until 200000).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    assert(Bpe.byteLevelPretokens(blob).forall(_.length <= 4096))
    val docs = Seq((1L, s"prefix $blob suffix")).toDF("id", "text")
    val merges = Bpe.trainByteLevel(docs, "text", numMerges = 10,
      sampleDocs = 5)
    val t0 = System.nanoTime()
    val row = docs.select($"text",
      Bpe.encodeByteLevelIds($"text", merges).as("ids"),
      Bpe.encode($"text", merges).as("ws_toks")).head()
    val dt = (System.nanoTime() - t0) / 1e9
    assert(dt < 30.0, f"capped encode took $dt%.1f s — cap not effective")
    // byte-level dense ids roundtrip byte-exactly across chunk cuts
    assert(Bpe.byteLevelDecodeIds(row.getSeq[Int](1), merges) ==
      row.getString(0))
    // whitespace mode: chunk concatenation reproduces the blob
    assert(row.getSeq[String](2).mkString("") ==
      row.getString(0).replace(" ", ""))
    // the cap never cuts a surrogate pair: a >4096-char astral-only word
    // (each emoji is TWO UTF-16 units, so the naive cut at 4096 lands
    // mid-pair) must chunk to valid strings that concatenate back
    val emojiWord = "😀".repeat(2500)          // 5000 chars
    val chunks = Bpe.capChunks(emojiWord)
    assert(chunks.mkString == emojiWord)
    assert(chunks.forall(c => c.length <= 4096 &&
      !Character.isHighSurrogate(c.last) && !Character.isLowSurrogate(c.head)))
    val eRow = Seq((1L, emojiWord)).toDF("id", "text")
      .select(Bpe.encode($"text", merges).as("toks")).head()
    assert(eRow.getSeq[String](0).mkString("") == emojiWord,
      "whitespace-mode chunking corrupted an astral char")
  }

  test("bpe special tokens: longest-match split, atomic ids, roundtrip") {
    import graft.llm.Bpe
    val specials = Seq("<|eot|>", "<|eot|><|pad|>", "<|pad|>")
    // longest-match at each position: the compound special wins over its
    // prefix; adjacent occurrences split independently after it
    assert(Bpe.splitSpecials("a<|eot|><|pad|>b", specials) ==
      Seq(Left("a"), Right("<|eot|><|pad|>"), Left("b")))
    assert(Bpe.splitSpecials("<|pad|>x<|eot|>", specials) ==
      Seq(Right("<|pad|>"), Left("x"), Right("<|eot|>")))
    // no specials / unlisted specials: the text is one plain segment
    assert(Bpe.splitSpecials("a<|eot|>b", Nil) == Seq(Left("a<|eot|>b")))
    assert(Bpe.splitSpecials("a<|huh|>b", specials) ==
      Seq(Left("a<|huh|>b")))
    // ids sit directly above the merge vocab, in list order
    val merges: Seq[Bpe.Merge] = Seq(("a", "b"))
    assert(Bpe.specialIds(merges, specials) ==
      Map("<|eot|>" -> 257, "<|eot|><|pad|>" -> 258, "<|pad|>" -> 259))
    // duplicates and empty entries normalize away BEFORE id assignment —
    // a duplicate must not shift later ids or leave an unreachable hole
    assert(Bpe.specialIds(merges, Seq("<|a|>", "", "<|a|>", "<|b|>")) ==
      Map("<|a|>" -> 257, "<|b|>" -> 258))
    // decode inverts ids INCLUDING specials, byte-exactly
    import spark.implicits._
    val docs = Seq((1L, "ab<|eot|>ab cd<|pad|>"), (2L, "no specials here"))
      .toDF("id", "text")
    val rows = docs.select($"id", $"text",
      Bpe.encodeByteLevelIds($"text", merges, specials).as("ids")).collect()
    rows.foreach { r =>
      assert(Bpe.byteLevelDecodeIds(r.getSeq[Int](2), merges, specials) ==
        r.getString(1))
    }
    // empty specials list behaves exactly like the pre-specials encode
    val plain = docs.select(
      Bpe.encodeByteLevelIds($"text", merges).as("a"),
      Bpe.encodeByteLevelIds($"text", merges, Nil).as("b")).collect()
    plain.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
    // DISTRIBUTED decode: encode → decode in one plan reproduces the text
    // byte-exactly (specials to their literal); long-element arrays (the
    // packed-shard type) decode too, with foreign ids (-1 eos) skipped
    val rt = docs.select($"text",
      Bpe.decodeByteLevelIdsCol(
        Bpe.encodeByteLevelIds($"text", merges, specials),
        merges, specials).as("rt"),
      Bpe.decodeByteLevelIdsCol(
        concat(transform(Bpe.encodeByteLevelIds($"text", merges, specials),
          i => i.cast("long")), array(lit(-1L))),
        merges, specials).as("rt_long")).collect()
    rt.foreach { r =>
      assert(r.getString(1) == r.getString(0), "int-array decode")
      assert(r.getString(2) == r.getString(0), "long-array decode skips eos")
    }
    // randomized property: specials spliced at arbitrary positions into
    // arbitrary unicode-ish text always round-trip byte-exactly, and the
    // special id count equals the number of splices
    val rnd = new scala.util.Random(99)
    val alphabet = "ab cd\n\té☕' 01"
    for (trial <- 1 to 40) {
      val base = (0 until rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val nSp = rnd.nextInt(4)
      val text = (0 until nSp).foldLeft(base) { (t, _) =>
        val p = rnd.nextInt(t.length + 1)
        t.take(p) + specials(rnd.nextInt(specials.length)) + t.drop(p)
      }
      val ids = spark.range(1).select(
        Bpe.encodeByteLevelIds(lit(text), merges, specials).as("ids"))
        .head().getSeq[Int](0)
      assert(Bpe.byteLevelDecodeIds(ids, merges, specials) == text,
        s"trial $trial roundtrip failed for: $text")
      // recognized count can legitimately drop below the splice count
      // (adjacent splices collapse into the compound special; a splice
      // landing INSIDE an earlier special destroys it) but the newest
      // splice always survives intact, so ≥1 whenever any were spliced
      val spCount = ids.count(_ > 256)
      assert(spCount <= nSp && (nSp == 0 || spCount >= 1),
        s"trial $trial: $nSp spliced, $spCount recognized in: $text")
    }
  }

  test("bpe whitespace dense ids: vocab layout, unknowns, parity, roundtrip") {
    import spark.implicits._
    import graft.llm.Bpe
    // vocab layout: reserved 0/1, alphabet from 2 in order, merges after,
    // duplicate merged strings don't burn an id (byteLevelVocab's rule)
    val dup = Seq(("a", "b"), ("ab", "c"), ("b", "c"), ("a", "bc"))
    val v = Bpe.whitespaceVocab(dup, Seq("a", "b", "c"))
    assert(v("a") == 2 && v("b") == 3 && v("c") == 4)
    assert(v("ab") == 5 && v("abc") == 6 && v("bc") == 7)
    assert(v.size == 3 + 3, "duplicate merged string must not take an id")
    // alphabet is code-point-granular: an astral char is ONE symbol
    val (_, alpha) = Bpe.trainLocalWithAlphabet(Seq("😀a 😀b"), 2)
    assert(alpha.contains("😀") && alpha.contains("a") && alpha.contains("b"))
    assert(alpha.forall(s => s.codePointCount(0, s.length) == 1))
    // distributed parity + roundtrip on random corpora: decode reproduces
    // the text with whitespace runs collapsed to one space (the mode's
    // documented loss); unseen code points surface as U+FFFD, never crash
    val rnd = new scala.util.Random(41)
    val alphabet = "abé☕ 01"
    val fitDocs = (0 until 30).map(i => (i.toLong,
      (0 until 20).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
    val fitDf = fitDocs.toDF("id", "text")
    val (merges, alpha2) = Bpe.trainWithAlphabet(fitDf, "text", 15, 100)
    val ranks = merges.zipWithIndex.toMap
    val vocab = Bpe.whitespaceVocab(merges, alpha2)
    val evalDocs = fitDocs ++ Seq((97L, "a  b   é"), (98L, " x a "),
      (99L, "zz unseen😀 a"))
    val rows = evalDocs.toDF("id", "text").select($"id", $"text",
      Bpe.encodeWhitespaceIds($"text", merges, alpha2).as("ids"),
      Bpe.decodeWhitespaceIdsCol(
        Bpe.encodeWhitespaceIds($"text", merges, alpha2),
        merges, alpha2).as("rt")).collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val ids = r.getSeq[Int](2)
      // local-reference parity
      val want = {
        val out = Seq.newBuilder[Int]
        var first = true
        text.split(' ').foreach { w =>
          if (w.nonEmpty) {
            if (!first) out += Bpe.WsSepId
            first = false
            Bpe.capChunks(w).foreach(c => Bpe.encodeWord(c, ranks)
              .foreach(t => out += vocab.getOrElse(t, Bpe.WsUnkId)))
          }
        }
        out.result()
      }
      assert(ids == want, s"distributed/local mismatch on '$text'")
      // roundtrip: single space between words, unseen code points → U+FFFD
      val norm = text.split(' ').filter(_.nonEmpty).mkString(" ")
        .map(c => if (c == ' ' || alpha2.contains(c.toString) ||
          Character.isHighSurrogate(c) || Character.isLowSurrogate(c)) c
          else '�')
      // astral chars: both surrogate halves of an unseen emoji collapse
      // into ONE UNK (the symbol is one code point) — normalize via the
      // driver-side decoder instead of per-char mapping for those
      val wantRt = Bpe.whitespaceDecodeIds(want, merges, alpha2)
      assert(r.getString(3) == wantRt, s"decode parity on '$text'")
      if (!text.exists(Character.isHighSurrogate))
        assert(r.getString(3) == norm, s"roundtrip normalization on '$text'")
    }
    // long-element arrays (packed-shard type) decode too; -1 eos skips
    val lr = Seq((1L, "a b")).toDF("id", "text").select(
      Bpe.decodeWhitespaceIdsCol(
        concat(transform(Bpe.encodeWhitespaceIds($"text", merges, alpha2),
          i => i.cast("long")), array(lit(-1L))),
        merges, alpha2).as("rt")).head()
    assert(lr.getString(0) == "a b", "long-array decode skips the sentinel")
  }

  test("bpe detokenizer property: shard cuts, multi-byte edges, id widths") {
    import spark.implicits._
    import graft.llm.Bpe
    // the documented per-shard caveat, pinned EXACTLY: a multi-byte char
    // whose byte-ids straddle a shard cut decodes as one U+FFFD per
    // broken edge — 'é' is bytes 0xC3 0xA9 = base ids 195,169; cut apart
    // each lone byte is invalid UTF-8
    assert(Bpe.byteLevelDecodeIds(Seq(195, 169), Nil) == "é")
    assert(Bpe.byteLevelDecodeIds(Seq(195), Nil) == "�" &&
      Bpe.byteLevelDecodeIds(Seq(169), Nil) == "�",
      "a broken multi-byte edge must render as U+FFFD, not crash")
    // randomized: encode a corpus (multi-byte chars + specials), cut the
    // id stream at random shard boundaries (what packTokenSequences
    // does), decode every shard DISTRIBUTED in both int and long widths.
    // Invariants: (a) distributed == driver-side reference per shard;
    // (b) a U+FFFD-free concat equals the full-stream decode — cuts never
    // corrupt anything except a straddled multi-byte char; (c) pure-ASCII
    // corpora concat back byte-exactly under EVERY cut
    val specials = Seq("<|eot|>")
    val merges: Seq[Bpe.Merge] = Seq(("t", "h"), ("th", "e"), ("Ġ", "s"))
    val rnd = new scala.util.Random(17)
    val alphabet = "the cats\né☕'01"
    for (trial <- 1 to 30) {
      val ascii = trial % 2 == 0
      val base = (0 until (5 + rnd.nextInt(40))).map { _ =>
        val c = alphabet(rnd.nextInt(if (ascii) 9 else alphabet.length))
        c
      }.mkString + "<|eot|>"
      val full = spark.range(1).select(
        Bpe.encodeByteLevelIds(lit(base), merges, specials).as("ids"))
        .head().getSeq[Int](0)
      // random cut points → shards (1..len each)
      val shards = {
        val cuts = (0 until rnd.nextInt(4))
          .map(_ => 1 + rnd.nextInt(math.max(1, full.length - 1)))
          .distinct.sorted
        (Seq(0) ++ cuts ++ Seq(full.length)).sliding(2)
          .filter(p => p(1) > p(0)).map(p => full.slice(p(0), p(1))).toSeq
      }
      val shardDf = shards.zipWithIndex.map { case (s, i) =>
        (i.toLong, s.toArray) }.toDF("i", "ids")
      val decoded = shardDf.select($"i", $"ids",
          Bpe.decodeByteLevelIdsCol($"ids", merges, specials).as("d_int"),
          Bpe.decodeByteLevelIdsCol(
            transform($"ids", x => x.cast("long")), merges, specials)
            .as("d_long"))
        .orderBy("i").collect()
      decoded.foreach { r =>
        val ref = Bpe.byteLevelDecodeIds(r.getSeq[Int](1), merges, specials)
        assert(r.getString(2) == ref, s"trial $trial: int-width parity")
        assert(r.getString(3) == ref, s"trial $trial: long-width parity")
      }
      val concat = decoded.map(_.getString(2)).mkString
      if (!concat.contains('�'))
        assert(concat == base, s"trial $trial: FFFD-free concat must be exact")
      if (ascii)
        assert(concat == base,
          s"trial $trial: ASCII corpus must survive every cut, got '$concat'")
    }
  }

  test("bpe exact-edges detokenize: shard concat byte-exact under every cut") {
    import spark.implicits._
    import graft.llm.Bpe
    val specials = Seq("<|eot|>")
    val merges: Seq[Bpe.Merge] = Seq(("t", "h"), ("th", "e"), ("Ġ", "s"))
    val rnd = new scala.util.Random(23)
    // BMP-only random alphabet (a randomly drawn half of a surrogate pair
    // would be invalid text before any shard logic runs); the astral
    // 4-byte case is pinned deterministically below
    val alphabet = "the cats\né☕'01"
    for (trial <- 1 to 30) {
      // corpus stream: random unicode-ish docs joined by the special,
      // eos sentinels (-1) spliced like packTokenSequences does
      val docs = (0 until (2 + rnd.nextInt(3))).map(_ =>
        (0 until (3 + rnd.nextInt(25))).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString)
      val stream = docs.mkString("<|eot|>") + "<|eot|>"
      val full = spark.range(1).select(
        Bpe.encodeByteLevelIds(lit(stream), merges, specials).as("ids"))
        .head().getSeq[Int](0) ++ Seq(-1)
      // random seqLen ≥ 3 (the documented exactness bound)
      val seqLen = 3 + rnd.nextInt(6)
      val shards = full.grouped(seqLen).zipWithIndex
        .map { case (s, i) => (i.toLong, s.toArray) }.toSeq
      // int-typed and long-typed (packed-shard) element widths
      val intDf = shards.toDF("seq_id", "token_ids")
      val longDf = intDf.select($"seq_id",
        transform($"token_ids", x => x.cast("long")).as("token_ids"))
      for ((df, width) <- Seq((intDf, "int"), (longDf, "long"))) {
        val got = Bpe.decodeShardsExact(df, "seq_id", "token_ids",
            merges, specials)
          .orderBy("seq_id").collect().map(_.getAs[String]("text")).mkString
        assert(got == stream,
          s"trial $trial ($width, seqLen=$seqLen): exact concat diverged\n" +
            s" got=$got\nwant=$stream")
      }
      // the plain per-row decode concatenates EXACTLY when no multi-byte
      // char straddles a cut — exact-edges must agree with it there
      val plain = intDf.select($"seq_id",
          Bpe.decodeByteLevelIdsCol($"token_ids", merges, specials).as("t"))
        .orderBy("seq_id").collect().map(_.getString(1)).mkString
      if (!plain.contains('�')) assert(plain == stream)
    }
    // astral char (4-byte UTF-8) split 1|3 and 3|1 across shards: the
    // worst legal cut needs all 3 neighbor bytes
    val eIds = spark.range(1).select(
      Bpe.encodeByteLevelIds(lit("😀"), Nil).as("ids")).head().getSeq[Int](0)
    assert(eIds.length == 4)
    for (cut <- 1 to 3) {
      val df = Seq((0L, eIds.take(cut).toArray), (1L, eIds.drop(cut).toArray))
        .toDF("seq_id", "token_ids")
      val got = Bpe.decodeShardsExact(df, "seq_id", "token_ids", Nil)
        .orderBy("seq_id").collect().map(_.getAs[String]("text"))
      assert(got(0) == "😀" && got(1) == "",
        s"cut at $cut: got ${got.toSeq}")
    }
  }

  // --------------------------------------------------- product quantization

  test("pq: codebook shape, code-range invariants, 16x compression layout") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Quantization.pqTrain(df, "vec_id", "embedding",
      dim = 16, m = 4, k = 8, iters = 2)
    val cbRows = cb.collect()
    assert(cbRows.length == 4 * 8, "codebook must stay exactly m*k")
    assert(cbRows.forall(_.getSeq[Float](2).length == 4),
      "sub-centroids carry dim/m dims")
    val enc = Quantization.pqEncode(df, "vec_id", "embedding", cb,
      dim = 16, m = 4)
    val codes = enc.collect()
    assert(codes.length == 200)
    assert(codes.forall(_.getSeq[Int](1).length == 4))
    assert(codes.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 8)))
  }

  test("pq ADC search: recall vs exact knn on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = for (c <- 0 until 10; i <- 0 until 30) yield {
      val center = Array.fill(16)(0f).updated(c % 16, 10f)
      (c * 100L + i, center.map(v => v + rnd.nextFloat() * 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnJoin(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val cb = Quantization.pqTrain(df, "vec_id", "embedding",
      dim = 16, m = 4, k = 16, iters = 2)
    val enc = Quantization.pqEncode(df, "vec_id", "embedding", cb,
      dim = 16, m = 4)
    val approx = Quantization.pqSearch(enc, df, queries, cb,
        "vec_id", "embedding", dim = 16, m = 4, k = 5, shortlist = 30)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall too low: $recall")
  }

  test("ivf-pq: cell-probed ADC recall vs exact knn on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val rows = for (c <- 0 until 10; i <- 0 until 30) yield {
      val center = Array.fill(16)(0f).updated(c % 16, 10f)
      (c * 100L + i, center.map(v => v + rnd.nextFloat() * 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnJoin(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val (centroids, assigned) = Similarity.ivfIndex(df, "vec_id",
      "embedding", nCentroids = 16, refineIters = 1)
    val cb = Quantization.pqTrain(df, "vec_id", "embedding",
      dim = 16, m = 4, k = 16, iters = 2)
    val enc = Quantization.pqEncode(df, "vec_id", "embedding", cb,
      dim = 16, m = 4)
    val approx = Quantization.ivfPqSearch(
        assigned.select("vec_id", "centroid_id"), enc, centroids, df,
        queries, cb, "vec_id", "embedding", dim = 16, m = 4,
        k = 5, nprobe = 4, shortlist = 30)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-PQ recall too low: $recall")
  }

  test("pq ADC: planted identical vector always ranks first") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 150).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat())))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val planted = queries.select(($"vec_id" + 1000000L).as("vec_id"),
      $"embedding")
    val corpus = df.union(planted)
    val cb = Quantization.pqTrain(corpus, "vec_id", "embedding",
      dim = 16, m = 4, k = 8, iters = 1)
    val enc = Quantization.pqEncode(corpus, "vec_id", "embedding", cb,
      dim = 16, m = 4)
    val top = Quantization.pqSearch(enc, corpus, queries, cb,
        "vec_id", "embedding", dim = 16, m = 4, k = 3, shortlist = 20)
      .filter($"knn_rank" === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 3L).foreach { q =>
      assert(top(q) == q + 1000000L,
        s"query $q: planted twin not at rank 1 (got ${top(q)})")
    }
  }

  test("totalOrderBits / packScoreId: order-isomorphic to Spark's (double, id)") {
    import spark.implicits._
    // every tricky double class: ±0, ±subnormal, ±Inf, NaN, ties, extremes
    val ds = Seq(0.0, -0.0, 1.5, -1.5, Double.MinPositiveValue,
      -Double.MinPositiveValue, Double.MaxValue, Double.MinValue,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      3.25, 3.25, -7.125)
    val rows = ds.zipWithIndex.map { case (d, i) =>
      (Option(d), (i.toLong - 7L) * 1000003L) } ++
      Seq((None, 5L), (None, -5L)) // null keys tie-break by id
    val df = rows.toDF("d", "id")
    val bySpark = df.orderBy(col("d").asc_nulls_first, col("id").asc)
      .select("id").collect().map(_.getLong(0)).toSeq
    val byPack = df.orderBy(Distances.packScoreId(col("d"), col("id")).asc)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(byPack == bySpark, s"pack order diverged:\n$byPack\n$bySpark")
    // the id lane round-trips exactly, nulls included
    val ids = df.select(col("id"),
        Distances.unpackScoreId(Distances.packScoreId(col("d"), col("id")))
          .as("u")).collect()
    ids.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // out-of-range and NULL ids fail loudly, never pack wrong
    Seq((Option(1L << 61), "packScoreId"), (None, "NULL")).foreach {
      case (id, want) =>
        val err = intercept[Exception] {
          Seq((1.0, id)).toDF("d", "id")
            .select(Distances.packScoreId(col("d"), col("id"))).collect()
        }
        assert(messages(err).exists(m => m.contains("packScoreId") &&
          m.contains(want)), messages(err))
    }
  }

  test("keepBestInClusters: packed election ≡ struct election, plans hash-agg") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // scores exercise the full double surface the sign-flip pack must order:
    // negatives, ties across ids, ±0.0 (Spark-equal), NaN, ±Inf, nulls
    val special = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -3.5, -3.5, 2.25, 2.25)
    val n = 120
    val rows = (0 until n).map { i =>
      val id = i.toLong * 7919L - 400000L // spread, incl. negatives
      val s: java.lang.Double =
        if (i % 17 == 0) null
        else if (i < special.size) special(i)
        else math.floor(rnd.nextGaussian() * 4) / 2 // heavy ties
      (id, s)
    }
    val df = rows.toDF("id", "score")
    // clusters of 2-5 members over the shuffled id space
    val ids = rows.map(_._1)
    val pairs = ids.grouped(4).flatMap(g => g.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1)))).toSeq.toDF("id_a", "id_b")
    val got = Dedup.keepBestInClusters(df, "id", pairs, col("score"))
      .select("id").collect().map(_.getLong(0)).toSet
    // reference: the pre-r15 struct election, spelled inline
    val comp = Dedup.connectedComponents(pairs).withColumnRenamed("id", "__kb_id")
    val clustered = df.join(comp, col("id") === col("__kb_id"))
    val winners = clustered
      .withColumn("__kb_key", struct((-col("score").cast("double")).as("ns"),
        col("id").as("i")))
      .groupBy(col("component")).agg(min(col("__kb_key")).as("__kb_w"))
      .select(col("__kb_w.i").as("__kb_keep"))
    val losers = clustered.join(winners,
      col("__kb_id") === col("__kb_keep"), "left_anti")
      .select(col("__kb_id").as("__kb_lose"))
    val want = df.join(losers, col("id") === col("__kb_lose"), "left_anti")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"packed election diverged: ${got.diff(want)} / ${want.diff(got)}")
    // plan pin: the election is a HashAggregate (struct-min planned as
    // SortAggregate — the r14/r15 packed-key treatment)
    val plan = Dedup.keepBestInClusters(df, "id", pairs, col("score"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      "keepBestInClusters regressed to SortAggregate")
  }

  test("ivfAssign: a NULL centroid_id fails with a message naming NULL") {
    import spark.implicits._
    val corpus = Seq((1L, Array(0f, 1f)), (2L, Array(3f, 1f))).toDF("id", "v")
    val centroids = Seq((Option(0L), Array(0f, 0f)), (None, Array(3f, 0f)))
      .toDF("centroid_id", "c_vec")
    val err = intercept[Exception] {
      Similarity.ivfAssign(corpus, "id", "v", centroids).collect()
    }
    assert(messages(err).exists(m => m.contains("packDistId") &&
      m.contains("NULL")), messages(err))
  }

  test("unigramLogProb/bm25Search r15 single-pass shapes match legacy values") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    // unigram legacy spelling (pre-r15, tokenizes thrice) inline
    val tok = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    val tf = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val total = tf.agg(sum($"c").as("corpus_tokens"))
    val wantU = tok.join(broadcast(tf), Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("_nlp", round(-log($"c".cast("double") / $"corpus_tokens"), 6)
        .cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"_nlp").cast("double").as("neg_logp_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotU = TextAnalysis.unigramLogProb(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotU == wantU, "unigramLogProb diverged from the legacy spelling")
    // bm25 legacy spelling (pre-r15, tokenizes four times) inline
    val terms = Seq("vector", "query", "stream", "absent-term-zzz")
    val tfDf = docs.select($"doc_id".as("id"),
        explode(split($"text", " ")).as("w"))
      .filter($"w".isin(terms: _*))
      .groupBy("id", "w").agg(count(lit(1)).as("tf"))
    val dlDf = docs.select($"doc_id".as("id"),
      size(split($"text", " ")).as("dl"))
    val wantB = TextAnalysis.bm25FromPostings(tfDf, dlDf, terms, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotB = TextAnalysis.bm25Search(docs, "doc_id", "text", terms, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotB == wantB, s"bm25Search diverged:\n$gotB\n$wantB")
  }

  test("scalableRank/packTokenSequences match inline references") {
    import spark.implicits._
    val docs = (0L until 500L).map(i =>
      (i, s"tok${i % 7} tok${i % 13} tok$i end")).toDF("doc_id", "text")
      .withColumn("_sk", md5(concat_ws(":", lit("s"), $"doc_id")))
    val ranks = graft.llm.Curation.scalableRank(docs, Seq.empty, "_sk", "doc_id")
      .select($"doc_id", $"_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantRanks = docs.select($"doc_id", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"_sk", $"doc_id"))
        .cast("long") - 1L).as("_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ranks == wantRanks, "scalableRank diverged from the global row_number")
    // packing: the id stream in doc_id order, each document closed by EOS,
    // cut into consecutive 64-id sequences
    val tokIds = docs.select($"doc_id",
      transform(split($"text", " "), w => xxhash64(w)).as("ids"))
    val packs = graft.llm.Curation.packTokenSequences(
        tokIds, "doc_id", "ids", seqLen = 64, eosId = -1L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val stream = tokIds.orderBy($"doc_id").collect()
      .flatMap(r => r.getSeq[Long](1) :+ -1L).toSeq
    val wantPacks = stream.grouped(64).zipWithIndex
      .map { case (ids, i) => (i.toLong, ids) }.toMap
    assert(packs == wantPacks, "packTokenSequences diverged from the reference chunking")
  }
}
