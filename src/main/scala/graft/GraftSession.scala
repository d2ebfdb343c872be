package graft

import org.apache.spark.sql.SparkSession

/**
 * Session facade (reference Session: endpoint + credentials + feature flags,
 * vastdb/session.py:20-70). Here a session wraps a tuned SparkSession;
 * "endpoints" become executor parallelism, credentials are the cluster's own.
 *
 * Config posture for scale (SURVEY §4.2): AQE on (runtime re-plan, skew-join
 * splitting), shuffle partitions sized to cores in local mode (a real cluster
 * would size to 2-3× total cores), broadcast threshold left at default so
 * dimension tables broadcast automatically.
 */
object GraftSession {
  /** Entries in Spark's JVM-wide cache of Janino-compiled classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One corpus
    * curation pass needs ~360 distinct generated classes, so at 100 the LRU
    * evicted each class before the next pass reused it and every pass
    * recompiled nearly all of them inside executor tasks. 2048 holds about
    * five passes, with room left for the literal-specialised classes that
    * catalog work in the same JVM keeps adding. Static: `CodeGenerator`
    * reads it once per JVM, on the first codegen, so only a builder conf
    * takes effect and the first session of the JVM decides. */
  val CodegenCacheEntries = 2048

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tune(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Streaming posture for large state (100 TB events): RocksDB-backed
    * state store with changelog checkpointing — heap state stores OOM once
    * keyed state outgrows executors. */
  def tuneStreaming(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // 100 entries against a ~360-class curation pass meant each pass
      // recompiled nearly every class; see CodegenCacheEntries
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the codegen cache is keyed by classloader as well as code, and with
      // artifact isolation on, executors give every session its own
      // classloader. Each streaming query runs in a clone of the session,
      // so every changefeed drain recompiled classes an earlier drain had
      // compiled. graft adds no session artifacts (jars, files, REPL
      // classes), so isolation only cost the recompiles.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold is LEFT AT
      // ITS DEFAULT (0 = no SMJ→SHJ rewrite) deliberately. Round 14
      // measured the 64m setting the optimization guide suggests trying:
      // isolated A/Bs on the fact-join pair looked favorable-or-neutral,
      // but FULL-SUITE runs at sf1 regressed every query downstream of the
      // first rewritten join by 4–15× (text_logprob 0.79→11.9 s,
      // shard_export 2.4→18.2 s, same calibration, reproducible, gone the
      // moment the threshold returns to 0) — the rewritten joins' build
      // relations poison the JVM for the rest of the session. Verdict:
      // per-query hint where profiling proves it, never session-wide.
      // dynamic file pruning beyond broadcast reuse: when the dim side of a
      // star join is too big to broadcast (so the plan is a shuffle join),
      // still run the dim filter as its own subquery and ship the surviving
      // join keys to the fact scan's runtime filter — at 100 TB the extra
      // dim-side scan is noise next to the fact files it lets the manifest
      // zone maps skip. The fallback-ratio heuristic keeps this off when
      // the planner estimates the duplicated dim work outweighs the prune.
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      .config("spark.sql.ui.explainMode", "formatted")
      // Spark 4's EliminateWindowPartitions strips foldable partition specs,
      // turning the deliberate `partitionBy(lit(0))` spelling on the
      // metadata-bounded single-partition windows (scalableRank bucket
      // offsets, top-k rankers) back into an UNpartitioned window — same
      // execution, but WindowExec then logs its "no partition" warning and
      // plan pins can no longer distinguish intentional from accidental
      // global windows. Excluding the rule keeps the explicit single-bucket
      // hash distribution; the cost is identical either way (one exchange
      // of the already-tiny input).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      .config("spark.ui.enabled", "false")
}
