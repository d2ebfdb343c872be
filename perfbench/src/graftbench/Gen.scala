package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row key),
  * so the same seed gives the same rows on any partitioning, and sizes do
  * not depend on the seed. */
final class Gen(spark: SparkSession, seed: Long) {
  private def h(salt: Int, cols: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cols: _*)
  def mod(salt: Int, n: Long, cols: Column*): Column = pmod(h(salt, cols: _*), lit(n))
  def unif(salt: Int, cols: Column*): Column = mod(salt, 1000000007L, cols: _*) / 1000000007.0
  private def pick(salt: Int, xs: Seq[String], cols: Column*): Column =
    element_at(lit(xs.toArray), (mod(salt, xs.size.toLong, cols: _*) + 1).cast("int"))

  /** Deterministic driver-side stream for op parameters. */
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  val eventTypes = Seq("view", "click", "purchase", "signup", "error")
  val nUsers = 2000L
  val eventEpochS = 1704067200L // 2024-01-01 UTC

  /** Events `[lo, hi)`: ts rises with event_id (~26 s apart, jittered),
    * `value` is integral so sums are exact in any order. */
  def events(lo: Long, hi: Long, parts: Int = 4): DataFrame =
    spark.range(lo, hi, 1L, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(eventEpochS * 1000000L) + col("id") * 26000000L +
        mod(30, 26000000L, col("id"))).as("ts"),
      mod(31, nUsers, col("id")).as("user_id"),
      pick(32, eventTypes, col("id")).as("event_type"),
      mod(33, 1000L, col("id")).cast("double").as("value"),
      concat(lit("{\"k\": "), mod(34, 100L, col("id")), lit("}")).as("props"))

  /** Word `<prefix><base36>` with a log-uniform (Zipf-like) index over
    * `vocab`. */
  def word(prefix: String, vocab: Int, salt: Int, cols: Column*): Column =
    concat(lit(prefix), conv(
      (exp(unif(salt, cols: _*) * math.log(vocab.toDouble)) - 1).cast("long").cast("string"),
      10, 36))

  /** `n` words keyed by `key`; every second one is one of graft's English
    * stopwords (about their share of English prose), so generated text
    * passes the stopword-weighted quality gates. */
  def wordsFor(prefix: String, vocab: Int, salt: Int, key: Column, n: Column): Column =
    transform(sequence(lit(1), n), i =>
      when(pmod(i, lit(2)) === 0, pick(salt, graft.functions.TokenStats.stopwords, key, i))
        .otherwise(word(prefix, vocab, salt, key, i)))
}
