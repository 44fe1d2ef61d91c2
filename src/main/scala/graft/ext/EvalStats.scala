package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Keys

/** Reusable measurement operators for training-data pipelines: relational
  * Bloom filters (build + probe as plain DataFrame algebra, no driver-side
  * sketch objects), the scale-safe Mann-Whitney AUC and the per-query ANN
  * recall audit. Everything here is deterministic cross-engine: integer/bit
  * arithmetic end-to-end, with at most one final IEEE division surfacing a
  * double.
  */
object EvalStats {

  /** 63 usable bits per bitmap word: the sign bit is never touched, so the
    * same shift/or/test algebra is exact in Spark longs and any SQL engine's
    * signed BIGINT (DuckDB errors on `1 << 63`; Java silently wraps — both
    * hazards avoided).
    */
  val BitsPerWord = 63

  /** The j-th bloom bit position of a key: shared 60-bit hash of
    * "<key>:<j>", reduced mod `bits`. Mirrors as
    * `duckHash60(CAST(k AS VARCHAR) || ':' || j) % bits` in oracle SQL.
    */
  def bloomPos(key: Column, j: Int, bits: Long): Column =
    pmod(TextHash.hash60(concat(key.cast("string"), lit(":" + j))), lit(bits))

  /** Build a `bits`-bit Bloom bitmap from `df`'s `keyCol` values with
    * `numHashes` positions per key, RELATIONALLY: explode positions, bit_or
    * per 63-bit word. Output: (word: long, bits: long) — ceil(bits/63) rows
    * regardless of input size, the broadcast-able sketch of a key set.
    */
  def bloomBitmap(df: DataFrame, keyCol: String, bits: Long, numHashes: Int): DataFrame =
    df.select(explode(array(
        (0 until numHashes).map(j => bloomPos(col(keyCol), j, bits)): _*)).as("pos"))
      .select(expr(s"pos div $BitsPerWord").as("word"),
        expr(s"pos % $BitsPerWord").as("bit"))
      .groupBy("word")
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(bit as int)))").as("bits"))

  /** Probe `df`'s `keyCol` against a [[bloomBitmap]]: rows whose key has
    * every probe bit set (bloom-positive — true matches plus ~fill^k false
    * positives, never a false negative). The bitmap joins by BROADCAST as a
    * pure expression filter; downstream exact verification sees only the
    * surviving rows. Preserves `df`'s columns.
    */
  def bloomMaybeContains(df: DataFrame, keyCol: String, bitmap: DataFrame,
      bits: Long, numHashes: Int): DataFrame = {
    val cols = df.columns.toSeq
    df.withColumn("__pos", explode(array(
        (0 until numHashes).map(j => bloomPos(col(keyCol), j, bits)): _*)))
      .withColumn("word", expr(s"__pos div $BitsPerWord"))
      .join(broadcast(bitmap), Seq("word"), "left")
      .withColumn("__hit",
        coalesce(expr(s"shiftright(bits, cast(__pos % $BitsPerWord as int)) & 1"), lit(0L)))
      .groupBy(cols.map(col): _*)
      .agg(min("__hit").as("__maybe"))
      .filter(col("__maybe") === 1L)
      .select(cols.map(col): _*)
  }

  /** Exact tie-corrected Mann-Whitney ROC AUC of an integer-valued score
    * against a 0/1 label — WITHOUT a global per-row rank: scores collapse to
    * (score, count, positives) groups, the exclusive cumulative count comes
    * from the two-phase prefix sum, and all rank algebra stays integer
    * (2 × the average-rank sum of a tie group is n_pos·(2·before + count
    * + 1)). One row: (n_pos, n_neg, auc) with AUC as the single final
    * division (sum2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg).
    */
  def mannWhitneyAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val grp = df
      .select(col(scoreCol), col(labelCol).cast("long").as("__pos"))
      .groupBy(scoreCol)
      .agg(count(lit(1)).as("__cnt"), sum("__pos").as("__npos"))
    Keys.globalRunningSum(grp, scoreCol, "__cnt", "__cum")
      .select(col("__npos"), col("__cnt"),
        (col("__npos") * (lit(2L) * (col("__cum") - col("__cnt")) + col("__cnt") + lit(1L)))
          .as("__r2"))
      .agg(sum("__npos").as("n_pos"),
        sum(col("__cnt") - col("__npos")).as("n_neg"),
        sum("__r2").as("__sum2"))
      .select(col("n_pos"), col("n_neg"),
        ((col("__sum2") - col("n_pos") * (col("n_pos") + lit(1L))).cast("double")
          / (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** Per-query recall of `found` against `truth`, both (query_id,
    * neighbor_id): (query_id, n_true, n_hits, recall_micro) with recall in
    * integer micro floor units, ordered by query_id. The hit count is a
    * semi join on the pair key.
    */
  def recallAudit(truth: DataFrame, found: DataFrame): DataFrame = {
    val hits = truth
      .join(found, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micro",
        expr("n_hits * 1000000 DIV n_true"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[recallAudit]] over relations `truth` and `found`: a
    * `hits` CTE (continuing an open WITH list) and the final SELECT.
    */
  def duckRecallAudit(truth: String, found: String): String = s"""hits AS (
          SELECT b.query_id, COUNT(*) AS n_hits
          FROM $truth b
          JOIN $found w ON w.query_id = b.query_id
                     AND w.neighbor_id = b.neighbor_id
          GROUP BY b.query_id
        )
        SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
               CAST(COALESCE(MAX(h.n_hits), 0) * 1000000 // COUNT(*) AS BIGINT)
                 AS recall_micro
        FROM $truth b LEFT JOIN hits h ON h.query_id = b.query_id
        GROUP BY b.query_id ORDER BY b.query_id"""
}
