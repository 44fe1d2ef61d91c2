package graft.engine

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.plans.SharedSubplan

/** Slowly-changing-dimension Type-2 merge (SURVEY.md section 7 M5; reference
  * behavior: final_dim_load.py:94-180 for dim_host, :329-451 for dim_listing).
  *
  * Semantics re-expressed Spark-first, preserved from the reference:
  *  - change detection via md5 over the concatenation of the SCD columns with
  *    nulls coalesced to the string "NULL" and NO separator between columns
  *    (final_dim_load.py:115-123 — the documented collision quirk
  *    `("ab","c") == ("a","bc")` is preserved deliberately for parity);
  *  - one frozen run timestamp shared by every row the merge touches
  *    (final_dim_load.py:28-29);
  *  - open rows carry a far-future end sentinel (2099-12-31) and
  *    `is_valid = true`;
  *  - changed keys expire their current version (`end_dt = runTs`,
  *    `is_valid = false`) and gain a fresh version; brand-new keys gain their
  *    first version; surrogate keys continue from the existing maximum
  *    (the reference's `agg(max)` watermark, final_dim_load.py:103-104).
  *
  * Scale notes (100 TB design point): the merge is one key-partitioned pass
  * (current ∪ incoming rows under one window on the natural key: a single
  * shuffle classifies every row, and it runs once: the pass sits under a
  * plan barrier, so its two consumers, the current rows and the keyed fresh
  * rows, share one exchange) plus the watermark and the keying. The
  * watermark is read from the parquet footers on the driver when `existing`
  * is a bare scan of an unpartitioned parquet table (no job), else it is one
  * job over the existing keys with no exchange. Key assignment is pluggable:
  * pass `Keys.surrogateKeys` for the reference's single-task window or
  * `Keys.surrogateKeysScalable` (default), whose output is identical: for a
  * dimension small enough for one range-sort partition it is one sorted
  * pass in the write's own plan (no job of its own), above that the
  * range-partitioned two-phase form.
  */
object Scd2 {

  /** md5 fingerprint of the SCD columns, null-coalesced, unseparated —
    * byte-identical to final_dim_load.py:115-123.
    */
  def rowHash(scdCols: Seq[String]): org.apache.spark.sql.Column =
    md5(concat(scdCols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*))

  /** Initial (bootstrap) load: every incoming row becomes version 1
    * (final_dim_load.py:171-177).
    */
  def bootstrap(
      incoming: DataFrame,
      naturalKey: String,
      skCol: String,
      runTs: String,
      sentinel: String = "2099-12-31 00:00:00",
      keying: (DataFrame, String, String, Long) => DataFrame =
        Keys.surrogateKeysScalable(_, _, _, _)): DataFrame =
    keying(incoming, naturalKey, skCol, 0L)
      .withColumn("start_dt", lit(runTs).cast(TimestampType))
      .withColumn("end_dt", lit(sentinel).cast(TimestampType))
      .withColumn("is_valid", lit(true))

  /** Audit timestamp column (reference: `ta_insert_dt` via current_timestamp
    * on every warehouse write, final_dim_load.py:157, :164, :177, :238).
    * Parameterized with the frozen run timestamp instead of wall clock so the
    * output stays deterministic and oracle-comparable.
    */
  def withAuditTs(df: DataFrame, runTs: String,
      colName: String = "ta_insert_dt"): DataFrame =
    df.withColumn(colName, lit(runTs).cast(TimestampType))

  /** Bootstrap-vs-incremental dispatch (final_dim_load.py:168-180): read the
    * existing dimension if its path exists, else first run -> bootstrap. The
    * reference catches the read's exception; here the filesystem is probed
    * first (Spark 4 logs every caught AnalysisException with a full caller
    * stacktrace, which makes the expected first-run miss look like a crash
    * in driver logs), with a Try fallback for paths that exist but fail to
    * read as a dimension (corrupt/foreign content -> treat as first run).
    */
  def loadOrBootstrap(
      spark: SparkSession,
      dimPath: String,
      incoming: DataFrame,
      naturalKey: String,
      scdCols: Seq[String],
      skCol: String,
      runTs: String,
      sentinel: String = "2099-12-31 00:00:00"): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dimPath)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    val existing = if (exists) Try(Sources.parquet(spark, dimPath)) else Failure(new Exception)
    existing.fold(_ => bootstrap(incoming, naturalKey, skCol, runTs, sentinel),
      merge(_, incoming, naturalKey, scdCols, skCol, runTs, sentinel))
  }

  /** Incremental SCD2 merge. `existing` must carry `skCol`, `start_dt`,
    * `end_dt`, `is_valid`, the natural key and the SCD columns; `incoming`
    * carries the natural key and the SCD columns. Returns the full new
    * dimension state (history preserved) with `existing`'s column order.
    */
  def merge(existing: DataFrame, incoming: DataFrame, naturalKey: String,
      scdCols: Seq[String], skCol: String, runTs: String,
      sentinel: String = "2099-12-31 00:00:00",
      keying: (DataFrame, String, String, Long) => DataFrame =
        Keys.surrogateKeysScalable(_, _, _, _)): DataFrame =
    classify(existing, incoming, naturalKey, scdCols, skCol, runTs, sentinel,
      keying, fullSnapshot = false)

  /** Full-snapshot SCD2 merge: `incoming` is the COMPLETE current key
    * universe, so a currently-valid key ABSENT from it is a logical delete —
    * its current version is expired at runTs with no successor. Everything
    * else behaves exactly like [[merge]]. (The incremental merge cannot
    * detect deletes: a changes-only feed can't distinguish "unchanged"
    * from "gone".)
    */
  def mergeFullSnapshot(existing: DataFrame, incoming: DataFrame, naturalKey: String,
      scdCols: Seq[String], skCol: String, runTs: String,
      sentinel: String = "2099-12-31 00:00:00",
      keying: (DataFrame, String, String, Long) => DataFrame =
        Keys.surrogateKeysScalable(_, _, _, _)): DataFrame =
    classify(existing, incoming, naturalKey, scdCols, skCol, runTs, sentinel,
      keying, fullSnapshot = true)

  /** The one pass behind both merges: current and incoming rows, each
    * hashed on its own side (the union widens column types, as the output
    * union does), unioned under one window on the natural key. A current
    * row expires when an incoming row of its key differs from it (full
    * snapshot: or none exists); an incoming row is a fresh version when its
    * key has no current row or it differs. Null keys never match.
    */
  private def classify(existing: DataFrame, incoming: DataFrame, naturalKey: String,
      scdCols: Seq[String], skCol: String, runTs: String, sentinel: String,
      keying: (DataFrame, String, String, Long) => DataFrame, fullSnapshot: Boolean) = {
    val maxSk = watermark(existing, skCol)

    // Columns pass through unaliased: an alias of an SCD column next to the
    // hash over it doubles the optimizer's constraint set per column.
    def tagged(df: DataFrame, current: Boolean) =
      df.withColumn("__curr", lit(current)).withColumn("__hash", rowHash(scdCols))
    val (isCurr, hash, keyed) = (col("__curr"), col("__hash"), col(naturalKey).isNotNull)
    val byKey = Window.partitionBy(naturalKey)
    // Under the barrier both consumers below (the current rows and the
    // keyed fresh rows) keep the whole pass, so their exchanges are equal
    // and AQE runs the classify shuffle once.
    val rows = SharedSubplan.of(tagged(existing.filter(col("is_valid")), current = true)
      .unionByName(tagged(incoming, current = false), allowMissingColumns = true)
      .select(col("*"), max(when(isCurr, hash)).over(byKey).as("__curr_hash"),
        min(when(!isCurr, hash)).over(byKey).as("__lo"),
        max(when(!isCurr, hash)).over(byKey).as("__hi")))
    val differs = !(col("__lo") <=> hash && col("__hi") <=> hash)
    val expire = keyed && (if (fullSnapshot) differs else col("__lo").isNotNull && differs)
    val current = rows.filter(isCurr)
      .withColumn("end_dt", when(expire, lit(runTs).cast(TimestampType)).otherwise(col("end_dt")))
      .withColumn("is_valid", !expire)

    // One deterministic keying pass over (new versions ∪ brand-new keys),
    // ordered by the natural key, continuing from the watermark. The
    // reference chains two windows with a count() round-trip in between
    // (final_dim_load.py:153+160); a single ordered window over the union is
    // the same dense, collision-free id space without the extra job.
    val changedOrNew = rows.filter(!isCurr && !(keyed && col("__curr_hash") <=> hash))
    val fresh = keying(changedOrNew.select(incoming.columns.map(col).toSeq: _*),
        naturalKey, skCol, maxSk)
      .withColumn("start_dt", lit(runTs).cast(TimestampType))
      .withColumn("end_dt", lit(sentinel).cast(TimestampType))
      .withColumn("is_valid", lit(true))

    val cols = existing.columns.map(col).toSeq
    existing.filter(!col("is_valid")).select(cols: _*)
      .unionByName(current.select(cols: _*))
      .unionByName(fresh.select(cols: _*))
  }

  /** The largest surrogate key of `existing`, 0 when it has none (no rows,
    * or all null): the reference's agg(max).collect() round-trip
    * (final_dim_load.py:103-104). Read from the parquet footers when
    * `existing` is a bare scan ([[Sources.footerMax]]), with no job; else
    * one job with no exchange, each partition's max combined here.
    */
  private[engine] def watermark(existing: DataFrame, skCol: String): Long =
    Sources.footerMax(existing, skCol).getOrElse(scannedWatermark(existing, skCol))
      .getOrElse(0L)

  private[engine] def scannedWatermark(existing: DataFrame, skCol: String): Option[Long] =
    existing.select(col(skCol).cast(LongType)).rdd
      .mapPartitions(it => it.filterNot(_.isNullAt(0)).map(_.getLong(0)).maxOption.iterator)
      .collect().maxOption
}
