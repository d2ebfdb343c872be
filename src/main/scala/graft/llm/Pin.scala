package graft.llm

import org.apache.spark.sql.DataFrame

/** The engine's one size-gated pin decision: recompute a frame's lineage or
  * `localCheckpoint` it, judged from plan-time statistics only (no job runs
  * to decide; the pin is lazy and materializes with its first action). A pin
  * runs a shared subplan once by contract instead of by exchange-reuse luck
  * and truncates lineage, at the cost of executor-LOCAL blocks: they are not
  * replicated, so losing an executor mid-job fails the query (fine for
  * batch curation; the 100 TB route for signatures is the persisted index
  * `Table.dedupIndex` maintains, which survives executors and runs).
  *
  *  - [[reuse]] pins BELOW the threshold: a frame with several consumers
  *    whose recompute would re-run its whole lineage (tokenization, md5
  *    keys) — pinning a bounded frame costs no more than the shuffle its
  *    consumers pay anyway. Above it the consumers' column-pruned
  *    recomputes are cheaper than writing a corpus-wide checkpoint.
  *  - [[offload]] pins AT OR ABOVE the threshold: a signature table reused
  *    by several joins. Below it a map-side signature pass re-run 2-3× is
  *    cheaper than writing the blocks, so small inputs keep pure lineage.
  *
  * Unconditional pins (loop truncation, correctness pins, stage boundaries)
  * make no decision and call `localCheckpoint` directly. */
private[graft] object Pin {
  val ThresholdBytes: Long = 256L << 20

  private def below(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(ThresholdBytes)

  def reuse(df: DataFrame): DataFrame =
    if (below(df)) df.localCheckpoint(eager = false) else df

  def offload(df: DataFrame): DataFrame =
    if (below(df)) df else df.localCheckpoint(eager = false)
}
