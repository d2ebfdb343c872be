package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path needs its own SparkSession (extensions bind at
  * session build), so this suite doesn't share SparkSpec's session. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects SQL functions at session build") {
    // extensions apply only at session creation — stop any shared session
    // first (SparkSpec re-creates on demand)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      // same JVM-wide cache size as SparkSpec.session, whichever runs first
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      // as GraftSession.tune: streaming clones share the executor classloader
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val r = spark.sql(
        """SELECT l2sq(array(1.0F, 2.0F), array(1.0F, 4.0F)) AS d,
          |       inner_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS ip,
          |       simhash64(array('a', 'b')) AS sh,
          |       size(minhash_signature(array('a', 'b', 'c'), 16, 2)) AS mk
          |""".stripMargin).head()
      assert(r.getDouble(0) == 4.0)
      assert(r.getDouble(1) == 11.0)
      assert(r.getLong(2) != 0L)
      assert(r.getInt(3) == 16)
      // reference SQL name registered too
      assert(spark.sql("SELECT array_distance(array(0.0F), array(3.0F)) d")
        .head().getDouble(0) == 9.0)
      // text-analysis surface: the injected trees are the Scala API's own
      val t = spark.sql(
        """SELECT size(hash_embedding(array('a','b'), 16)) AS hd,
          |       size(shingle_hashes(array('a','b','c'), 2)) AS sh,
          |       quality_score('the quick brown fox is here') AS q,
          |       langid('the of and to in is it for on the') AS lang,
          |       doc_fingerprint('a b c') AS fp,
          |       nfc_normalize('café') AS nfc,
          |       pq_adc(array(0, 1), array(array(0.5D, 1.5D), array(2.0D, 3.0D))) AS adc
          |""".stripMargin).head()
      assert(t.getInt(0) == 16)
      assert(t.getInt(1) == 2)
      assert(t.getDouble(2) > 0.0 && t.getDouble(2) <= 1.0)
      assert(t.getString(3) == "en")
      assert(t.getLong(4) != 0L)
      assert(t.getString(5) == "café")
      assert(t.getDouble(6) == 3.5)
      // parity with the Scala API on the same input
      import org.apache.spark.sql.functions.{col, lit}
      val api = spark.range(1).select(graft.llm.TextAnalysis
        .qualityScore(lit("the quick brown fox is here")).as("q")).head().getDouble(0)
      assert(api == t.getDouble(2), "SQL door and Scala door must agree")
      // rule filters (round 12): struct flags + line rewrite
      val g = spark.sql(
        """SELECT gopher_rules('the quick fox').has_stopwords AS hs,
          |       gopher_rules('the quick fox').word_count_ok AS wc,
          |       c4_clean('keep this line.\nno punct here\nthis kept too!') AS c4
          |""".stripMargin).head()
      assert(!g.getBoolean(0), "one distinct stopword < 2")
      assert(!g.getBoolean(1), "3 tokens < 50")
      assert(g.getString(2) == "keep this line.\nthis kept too!")
      // round-12b: window hash pairs + URL host normalization
      val w = spark.sql(
        """SELECT size(window_hash_pairs(array('a','b','c','d'), 3, 1)) AS nw,
          |       window_hash_pairs(array('a','b'), 3, 1) AS short,
          |       url_host('https://u:p@Ads.Example.COM:8080/x?q=1') AS host
          |""".stripMargin).head()
      assert(w.getInt(0) == 2, "two 3-token windows of a 4-token array")
      assert(w.getSeq[Any](1).isEmpty, "short doc yields no windows")
      assert(w.getString(2) == "ads.example.com")
    } finally spark.stop()
  }
}
