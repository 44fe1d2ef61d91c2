package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness test tables (TESTDATA.md): one parquet file per
  * table under a scale-factor directory. Mirrors the reference's
  * path-addressed table model (csv_to_parquet.py:13-19 reads path constants;
  * final_dim_load.py:31-33 reads silver parquet back) but parameterized —
  * no hardcoded bucket paths. Every table reads through
  * [[graft.engine.Sources.parquet]], so building a table's DataFrame costs
  * no job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    graft.engine.Sources.parquet(spark, s"$sfDir/$table.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  /** The harness has shipped events.ts under two parquet encodings across
    * rounds: INT64 TIMESTAMP(NANOS) — which Spark 4 only reads as raw nanos
    * longs via the legacy nanosAsLong conf (set at session construction in
    * Bench/Verify/specs) — and plain TIMESTAMP(MICROS), which arrives as
    * TIMESTAMP_NTZ. [[normalizeTs]] dispatches on the OBSERVED read schema,
    * so the engine is agnostic to the fixture's encoding: nanos divide down
    * to micros with integer division (nanos-since-epoch ~1.7e18 exceeds
    * double's 53-bit mantissa, so float math would corrupt timestamps; the
    * truncation matches DuckDB's own ns->us narrowing), and NTZ casts to the
    * session TimestampType — the session timeZone is UTC everywhere, so the
    * NTZ wall clock IS the instant DuckDB reads natively.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(read(spark, dir, "events"))

  /** Schema-adaptive ts normalization (see [[events]]); shared with the
    * file-stream source, which must declare the on-disk schema explicitly.
    */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType         => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
