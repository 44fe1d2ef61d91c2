package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.reflect.ClassTag

/** Deterministic dense surrogate-key assignment (SURVEY.md section 2.5 W1 +
  * section 4 hazard 1).
  *
  * The reference keys dimensions with `row_number().over(Window.orderBy(k))
  * + offset` (final_dim_load.py:153, :172-173) — an UNPARTITIONED window that
  * funnels every row through one task. Both semantics are exposed here:
  * `surrogateKeys` is the faithful small-dimension form; `surrogateKeysScalable`
  * produces the identical output via range-partition + local sort +
  * zipWithIndex, which never materializes the dataset on one task and is the
  * form that survives a 1000-executor, 100 TB dimension build. Output equality
  * holds whenever the order key is unique (enforced nowhere — same as the
  * reference — but asserted in the spec).
  */
object Keys {

  /** Reference-faithful: global row_number + offset. Single-task sort. */
  def surrogateKeys(df: DataFrame, orderCol: String, keyName: String,
      offset: Long = 0L): DataFrame =
    df.withColumn(keyName,
      row_number().over(Window.orderBy(col(orderCol))).cast(LongType) + offset)

  /** Scale-safe equivalent: range partition by the order key (so partition i
    * holds strictly smaller keys than partition i+1), sort locally, then
    * zipWithIndex assigns global ranks with only a per-partition-count pass.
    * Drops to the RDD API (deserializes rows, exits codegen): the RDD
    * shuffle is materialized once, so every pass sees the same sampled
    * range boundaries.
    */
  def surrogateKeysScalable(df: DataFrame, orderCol: String, keyName: String,
      offset: Long = 0L, partitions: Int = 0): DataFrame =
    rankByScalable(df, Seq(col(orderCol)), keyName, offset, partitions)

  /** Multi-column generalization of [[surrogateKeysScalable]]: assigns the
    * global 1-based rank under an arbitrary sort-order list (e.g.
    * `Seq(col("rev").desc, col("k"))`) with the same range-partition +
    * local-sort + zipWithIndex shape — no single-task window, ever. The
    * order must be a TOTAL order (include a unique tie-break column) for
    * the rank to be deterministic.
    */
  def rankByScalable(df: DataFrame, order: Seq[Column], keyName: String,
      offset: Long = 0L, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // Input-proportional partition count (plan-stats, no decision job):
    // n == 1 skips BOTH construction-time jobs of this shape (the range-
    // boundary sampling pass and zipWithIndex's per-partition count pass);
    // at scale the count clamps to the session parallelism as before.
    val n = if (partitions > 0) partitions else Partitions.sortSpreadCount(df)
    val sorted = df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*)
    val schema = sorted.schema.add(keyName, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L + offset))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** SQL `ntile(k)` bucket (1-based) computed from a global rank and the
    * total row count — the explicit form of the ntile size rule: the first
    * `n mod k` buckets get `floor(n/k)+1` rows, the rest `floor(n/k)`.
    * Lets equi-depth bucketing ride [[rankByScalable]]'s two-phase rank
    * instead of an unpartitioned window. Requires n >= k (q = 0 otherwise
    * divides by zero — same domain ntile itself degenerates on).
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = floor(n / k)
    val r = n % k
    (when(rank <= r * (q + 1), floor((rank - 1) / (q + 1)))
      .otherwise(r + floor((rank - r * (q + 1) - 1) / q)) + 1).cast("int")
  }

  /** Scalable global prefix sum: `sumName` = running total of `valueCol`
    * (LongType) in `orderCol` order, INCLUDING the current row. The naive
    * form is an unpartitioned running-sum window (single-task funnel, same
    * hazard as surrogate keys).
    *
    * Implementation deliberately mirrors [[surrogateKeysScalable]]'s RDD
    * shape, NOT the pure-Catalyst two-exchange form: range-partition +
    * local sort ONCE, then two jobs over the SAME materialized shuffle —
    * a per-partition-total pass and the prefix-offset map. RDD shuffle
    * files are computed once and reused across the jobs, so the sampled
    * range boundaries cannot differ between the phases. A DataFrame
    * two-branch formulation (offsets aggregate + pid-window over two
    * evaluations of `repartitionByRange`) is only correct when AQE reuses
    * the exchange — and for complex inputs (a union of windowed subplans,
    * q95) that reuse does NOT fire, silently splitting the two branches
    * onto DIFFERENTLY-SAMPLED partitionings with garbage offsets.
    */
  def globalRunningSum(df: DataFrame, orderCol: String, valueCol: String,
      sumName: String, partitions: Int = 0): DataFrame =
    globalRunningSumBy(df, Seq(col(orderCol)), valueCol, sumName, partitions)

  /** Multi-column-order form of [[globalRunningSum]] (e.g. a running total
    * in `(revenue DESC, key)` order for Pareto shares). Same RDD
    * shuffle-reuse shape; the order must be total for determinism. The
    * value stays LongType — decimal running sums scale to long first
    * (scale-2 money → cents), which keeps the accumulation associative-
    * exact and overflow-safe to ~9e16 cents.
    */
  def globalRunningSumBy(df: DataFrame, order: Seq[Column], valueCol: String,
      sumName: String, partitions: Int = 0): DataFrame =
    globalScan(df, order, valueCol, sumName, nullable = false, partitions)(0L)(
      _ + _, _ + _, (_, after) => after)

  /** Two-phase EXCLUSIVE global prefix max: `maxName` = max of `valueCol`
    * (LongType, non-null) over all rows STRICTLY BEFORE the current row in
    * `order` — null for the global first row. The scale-safe replacement
    * for `max(...).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * -1))`, which funnels the whole frame through one task. Same two-phase
    * scan as [[globalRunningSum]]; the order must be total for determinism.
    */
  def globalPrefixMaxBy(df: DataFrame, order: Seq[Column], valueCol: String,
      maxName: String, partitions: Int = 0): DataFrame =
    globalScan(df, order, valueCol, maxName, nullable = true, partitions)(
      Option.empty[Long])(
      (acc, v) => Some(acc.fold(v)(math.max(_, v))),
      (a, b) => (a ++ b).maxOption,
      (before, _) => before.map(Long.box).orNull)

  /** The two-phase scan behind the prefix operators: range-partition +
    * local sort ONCE, a per-partition summary pass (the fold of `step`
    * from `zero` over the partition's values), the summaries' exclusive
    * `combine`-scan into per-partition offsets, then a map that carries
    * each partition's offset through its rows and appends
    * `emit(state before the row, state after it)`. Both passes run over
    * the SAME materialized RDD shuffle, so the sampled range boundaries
    * cannot differ between them. Input-proportional partition count (see
    * [[rankByScalable]]): n == 1 needs neither the range-boundary sampling
    * job nor the summary collect.
    */
  private def globalScan[S: ClassTag](df: DataFrame, order: Seq[Column],
      valueCol: String, outName: String, nullable: Boolean, partitions: Int)(
      zero: S)(step: (S, Long) => S, combine: (S, S) => S,
      emit: (S, S) => Any): DataFrame = {
    require(df.schema(valueCol).dataType == LongType,
      s"$outName needs a LongType $valueCol")
    val n = if (partitions > 0) partitions else Partitions.sortSpreadCount(df)
    val sorted = df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val rdd = sorted.rdd
    val offsets =
      if (n == 1) Array(zero)
      else rdd.mapPartitionsWithIndex { (i, it) =>
          Iterator(i -> it.foldLeft(zero)((s, r) => step(s, r.getLong(vIdx))))
        }.collect().sortBy(_._1).map(_._2).scanLeft(zero)(combine)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val before = acc
        acc = step(acc, r.getLong(vIdx))
        Row.fromSeq(r.toSeq :+ emit(before, acc))
      }
    }
    df.sparkSession.createDataFrame(out, sorted.schema.add(outName, LongType, nullable))
  }
}
