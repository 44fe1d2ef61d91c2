package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
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
  * produces the identical output at every size as one sorted scan (see
  * [[scan]]). An input the plan statistics fit in one range-sort partition
  * (`Partitions.sortSpreadCount` == 1) is scanned in the caller's plan —
  * no exchange and no job of its own, it runs inside the caller's action.
  * Larger inputs (n > 1) are range-partitioned over the RDD API, which never
  * materializes the dataset on one task and is the form that survives a
  * 1000-executor, 100 TB dimension build. Output equality holds whenever the
  * order key is unique (enforced nowhere — same as the reference — but
  * asserted in the spec).
  */
object Keys {

  /** Reference-faithful: global row_number + offset. Single-task sort. */
  def surrogateKeys(df: DataFrame, orderCol: String, keyName: String,
      offset: Long = 0L): DataFrame =
    df.withColumn(keyName,
      row_number().over(Window.orderBy(col(orderCol))).cast(LongType) + offset)

  /** Scale-safe equivalent: the global rank under `orderCol` as a running
    * row count (see [[rankByScalable]]).
    */
  def surrogateKeysScalable(df: DataFrame, orderCol: String, keyName: String,
      offset: Long = 0L, partitions: Int = 0): DataFrame =
    rankByScalable(df, Seq(col(orderCol)), keyName, offset, partitions)

  /** Multi-column generalization of [[surrogateKeysScalable]]: assigns the
    * global 1-based rank (+ `offset`) under an arbitrary sort-order list
    * (e.g. `Seq(col("rev").desc, col("k"))`) as a running row count of
    * [[scan]] — no single-task window at scale. The order must be a TOTAL
    * order (include a unique tie-break column) for the rank to be
    * deterministic: an input of one range-sort partition is ranked inside
    * the plan of every action over the result.
    */
  def rankByScalable(df: DataFrame, order: Seq[Column], keyName: String,
      offset: Long = 0L, partitions: Int = 0): DataFrame =
    scan(df, order, keyName, nullable = false, partitions)(0L)(
      (count, _) => count + 1, _ + _, (_, after) => after + offset)

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
    * Implementation: [[scan]], which at n > 1 is deliberately an RDD shape,
    * NOT the pure-Catalyst two-exchange form: range-partition + local sort
    * ONCE, then two jobs over the SAME materialized shuffle — a
    * per-partition-total pass and the prefix-offset map. RDD shuffle files
    * are computed once and reused across the jobs, so the sampled range
    * boundaries cannot differ between the phases. A DataFrame two-branch
    * formulation (offsets aggregate + pid-window over two evaluations of
    * `repartitionByRange`) is only correct when AQE reuses the exchange —
    * and for complex inputs (a union of windowed subplans, q95) that reuse
    * does NOT fire, silently splitting the two branches onto
    * DIFFERENTLY-SAMPLED partitionings with garbage offsets.
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
      sumName: String, partitions: Int = 0): DataFrame = {
    val v = longField(df, valueCol, sumName)
    scan(df, order, sumName, nullable = false, partitions)(0L)(
      (acc, r) => acc + r.getLong(v), _ + _, (_, after) => after)
  }

  /** Two-phase EXCLUSIVE global prefix max: `maxName` = max of `valueCol`
    * (LongType, non-null) over all rows STRICTLY BEFORE the current row in
    * `order` — null for the global first row. The scale-safe replacement
    * for `max(...).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * -1))`, which funnels the whole frame through one task. Same scan as
    * [[globalRunningSum]]; the order must be total for determinism.
    */
  def globalPrefixMaxBy(df: DataFrame, order: Seq[Column], valueCol: String,
      maxName: String, partitions: Int = 0): DataFrame = {
    val v = longField(df, valueCol, maxName)
    scan(df, order, maxName, nullable = true, partitions)(Option.empty[Long])(
      (acc, r) => { val x = r.getLong(v); Some(acc.fold(x)(math.max(_, x))) },
      (a, b) => (a ++ b).maxOption,
      (before, _) => before.map(Long.box).orNull)
  }

  private def longField(df: DataFrame, valueCol: String, outName: String): Int = {
    require(df.schema(valueCol).dataType == LongType, s"$outName needs a LongType $valueCol")
    df.schema.fieldIndex(valueCol)
  }

  /** The one sorted scan behind the rank and prefix operators: each row in
    * `order` gets `emit(state before the row, state after it)` appended as
    * `outName`, the state being the fold of `step` from `zero` over the rows
    * so far. Input-proportional partition count (plan statistics, no
    * decision job), n:
    *  - n == 1: the rows are coalesced to one partition, sorted locally and
    *    folded by one `mapPartitions` in the caller's plan — no exchange, no
    *    window, no job until the caller's action, and the plan stays whole
    *    for it (a write sees every upstream stage in its own plan).
    *  - n > 1: the RDD API (deserializes rows, exits codegen, runs the
    *    upstream stages when built): range-partition + local sort ONCE, a
    *    per-partition summary pass (the partition's fold), the summaries'
    *    exclusive `combine`-scan into per-partition offsets, then the same
    *    fold carried from each partition's offset. Both passes run over the
    *    SAME materialized RDD shuffle, so the sampled range boundaries
    *    cannot differ between them.
    */
  private def scan[S: ClassTag](df: DataFrame, order: Seq[Column], outName: String,
      nullable: Boolean, partitions: Int)(zero: S)(step: (S, Row) => S,
      combine: (S, S) => S, emit: (S, S) => Any): DataFrame = {
    val schema = df.schema.add(outName, LongType, nullable)
    def carry(from: S)(rows: Iterator[Row]): Iterator[Row] = {
      var acc = from
      rows.map { r =>
        val before = acc
        acc = step(acc, r)
        Row.fromSeq(r.toSeq :+ emit(before, acc))
      }
    }
    val n = if (partitions > 0) partitions else Partitions.sortSpreadCount(df)
    if (n == 1) df.coalesce(1).sortWithinPartitions(order: _*)
      .mapPartitions(carry(zero))(Encoders.row(schema))
    else {
      val rdd = df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*).rdd
      val offsets = rdd.mapPartitionsWithIndex((i, it) => Iterator(i -> it.foldLeft(zero)(step)))
        .collect().sortBy(_._1).map(_._2).scanLeft(zero)(combine)
      df.sparkSession.createDataFrame(
        rdd.mapPartitionsWithIndex((i, it) => carry(offsets(i))(it)), schema)
    }
  }
}
