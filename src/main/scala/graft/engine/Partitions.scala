package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive partition sizing for the explicit "spread" exchanges
  * (round 15 — guide section 2: derive partitioning from input size, never
  * from a constant tuned to one box).
  *
  * The spread idiom exists because a small parquet corpus arrives as ONE
  * input split, and CPU-heavy per-row map work (md5 per shingle, per-pair
  * dot products) would otherwise run in a single task; AQE cannot help
  * because size-based coalescing is blind to expression cost and explicit
  * repartitioning is exempt from it. But the historical spread count —
  * the session's shuffle parallelism — is a CONSTANT: at sf0.1 it makes
  * every downstream stage of every spread consumer run 32 tasks over a
  * few hundred KB (and every localCheckpoint inherit 32 blocks), so the
  * overhead-bound registry pays ~32x the task launches its data needs;
  * the driver's own 8-core bench ran the spread-heavy families FASTER
  * than 32-core for exactly this reason (BENCH_r14_c8: q24 0.84x,
  * q36 0.80x, q533 0.84x of the 32-core time).
  *
  * The count here scales with the INPUT: one partition per 64 KB of
  * optimizer-estimated input bytes, clamped to [1, session shuffle
  * parallelism]. The estimate is plan-time metadata (file sizes for scans,
  * scaled through projections and filters) — no job runs to decide. 64 KB of compressed corpus is
  * roughly 100-300 documents/vectors — a few hundred ms of signature or
  * dot-product CPU, well above the per-task overhead it buys. Behavior by
  * scale:
  *   - tiny corpus (sf0.01-sf0.1): a handful of partitions — task count
  *     follows data, launch overhead stops dominating;
  *   - production (GB-TB inputs): bytes/64KB vastly exceeds any session
  *     parallelism, so the count clamps to the session's shuffle
  *     parallelism — the exact spread the constant form produced, i.e.
  *     this is a LOCAL-OVERHEAD fix that is invisible at scale;
  *   - unknown stats (e.g. a localCheckpointed RDD input, whose logical
  *     stats are the conservative default): clamps to the cap, never
  *     under-spreads.
  * Results are unchanged by construction: every spread consumer is
  * partition-count-invariant (keyed aggregates, exact-decimal/integer
  * reductions, min/max — the registry's standing determinism discipline,
  * already exercised by the driver's own lower-core bench runs where the
  * session parallelism itself changes).
  */
object Partitions {

  /** Per-partition byte target for CHEAP-PER-ROW spreads (keyed join/agg
    * frames: edge sets, label frames) — 64 KB holds thousands of long-pair
    * rows, far more than one task's overhead is worth.
    */
  private val targetBytes: Long = 64L * 1024L

  /** Per-partition byte target for CPU-HEAVY spreads (md5 per shingle,
    * per-pair dot products): per-byte cost is orders of magnitude above a
    * shuffle read, so the target is 4 KB — a KB-scale corpus still fans to
    * near the session parallelism (measured: byte-sized spreads at sf0.1
    * made the shingle-bound q533 25% SLOWER — the compute needs the
    * cores), while a truly tiny corpus (sf0.01 correctness runs) stops
    * paying a 32-task launch per KB.
    */
  private val cpuTargetBytes: Long = 4L * 1024L

  private def count(df: DataFrame, t: Long): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case NonFatal(_) => BigInt(Long.MaxValue) }
    val n0 = (bytes + t - 1) / t
    val n = if (n0 >= cap) cap else math.max(1, n0.toInt)
    if (sys.env.contains("SPARK_GRAFT_SPREAD_DEBUG"))
      println(s"SPREAD n=$n bytes=$bytes target=$t cap=$cap")
    n
  }

  /** Input-proportional spread count: ceil(estimated bytes / target),
    * clamped to [1, session shuffle parallelism]. Never runs a job.
    */
  def spreadCount(df: DataFrame): Int = count(df, targetBytes)

  /** [[spreadCount]] at the CPU-heavy target. */
  private def cpuSpreadCount(df: DataFrame): Int = count(df, cpuTargetBytes)

  /** Per-partition byte target for RANGE-SORT spreads (Keys.rankByScalable
    * and the global prefix-sum/max passes): sort work is cheap per byte,
    * and the zip/offset machinery pays 1-2 extra driver-synchronous jobs
    * whenever n > 1 (range-boundary sampling + a per-partition count/offset
    * collect), so the target is large — one task comfortably sorts tens of
    * MB. At n == 1 the operators leave the RDD API altogether: one sorted
    * pass over a `coalesce(1)` in the caller's plan (no exchange), which
    * launches no job of its own and lets the caller's action run the whole
    * plan. At production scale bytes/32MB exceeds any session parallelism,
    * so the count clamps back to the constant the session always used.
    */
  private val sortTargetBytes: Long = 32L * 1024L * 1024L

  /** [[spreadCount]] at the range-sort target. */
  def sortSpreadCount(df: DataFrame): Int = count(df, sortTargetBytes)

  /** `df.repartition(spreadCount(df), cols)` — the adaptive form of the
    * spread idiom. With no columns: round-robin rebalance (the
    * driver-parallelized-result shape).
    */
  def spread(df: DataFrame, cols: Column*): DataFrame =
    if (cols.isEmpty) df.repartition(spreadCount(df))
    else df.repartition(spreadCount(df), cols: _*)

  /** [[spread]] at the CPU-heavy target — the adaptive form of the
    * "spread CPU-heavy map work" idiom.
    */
  def cpuSpread(df: DataFrame, cols: Column*): DataFrame =
    if (cols.isEmpty) df.repartition(cpuSpreadCount(df))
    else df.repartition(cpuSpreadCount(df), cols: _*)
}
