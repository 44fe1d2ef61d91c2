package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Column cleaning / normalization operators (SURVEY.md sections 2.2, 2.8).
  *
  * All of these are pure Catalyst expressions (no UDFs): they stay inside
  * whole-stage codegen and survive predicate pushdown / column pruning — the
  * reference's own idiom (48 withColumn casts, csv_to_parquet.py:30-77),
  * re-expressed as single projections.
  */
object Cleaning {

  /** P2 cast-normalization. The reference chains one withColumn per column;
    * expressing it as ONE select keeps the analyzed plan small (Catalyst
    * would CollapseProject anyway, but analysis cost on 75-column tables is
    * real at plan-build time).
    */
  def castNormalize(df: DataFrame, types: Map[String, DataType]): DataFrame = {
    val cols = df.columns.map { c =>
      types.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }
    df.select(cols.toSeq: _*)
  }

  /** Money cleaner (csv_to_parquet.py:44; final_dim_load.py:258-259 does the
    * same in two regex steps): strip '$' and ',' then cast decimal(10,2).
    */
  def cleanPrice(c: Column): Column =
    regexp_replace(c, "[$,]", "").cast("decimal(10,2)")

  /** Boolean decoder, strict variant (csv_to_parquet.py:35-37):
    * lower(x) in ('t','true') -> true, anything else false, null -> null.
    */
  def decodeBooleanStrict(c: Column): Column =
    lower(c).isin("t", "true")

  /** Boolean decoder, lax/default-true variant (final_fact_load.py:33-36):
    * 't' -> true, 'f' -> false, anything else INCLUDING null -> true.
    * A genuinely different function from the strict one — kept separate on
    * purpose (SURVEY.md section 7.5 hard-part 5).
    */
  def decodeBooleanLax(c: Column): Column =
    when(c === "t", lit(true)).when(c === "f", lit(false)).otherwise(lit(true))

  /** P11 negative clamp (final_dim_load.py:44-47), one projection not a
    * withColumn-per-column fold.
    */
  def clampNegatives(df: DataFrame, cols: Seq[String]): DataFrame = {
    val set = cols.toSet
    df.select(df.columns.map { c =>
      if (set(c)) when(col(c) < 0, lit(0)).otherwise(col(c)).as(c) else col(c)
    }.toSeq: _*)
  }

  /** P10 type-dispatched null fill (final_dim_load.py:75-92): strings get a
    * sentinel, numerics 0, booleans false.
    */
  def fillDefaults(df: DataFrame, stringCols: Seq[String] = Nil,
      numericCols: Seq[String] = Nil, boolCols: Seq[String] = Nil,
      stringDefault: String = "N/A"): DataFrame = {
    val afterStrings = if (stringCols.nonEmpty) df.na.fill(stringDefault, stringCols) else df
    val afterNums = if (numericCols.nonEmpty) afterStrings.na.fill(0, numericCols) else afterStrings
    if (boolCols.nonEmpty) afterNums.na.fill(false, boolCols) else afterNums
  }

  /** Price imputation (final_fact_load.py:37-42): null price -> default;
    * adjusted price falls back to price when null.
    */
  def imputePrice(price: Column, default: java.math.BigDecimal): Column =
    when(price.isNull, lit(default).cast("decimal(10,2)")).otherwise(price.cast("decimal(10,2)"))

  def adjustedOrBase(adjusted: Column, base: Column): Column =
    when(adjusted.isNull, base.cast("decimal(10,2)")).otherwise(adjusted.cast("decimal(10,2)"))

  /** Text normalization for the dedup/text-analysis extensions: lowercase,
    * trim, collapse internal whitespace runs.
    */
  def normalizeText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** DuckDB twin of [[normalizeText]] over the SQL expression `c`. */
  def duckNormalizeText(c: String): String =
    raw"regexp_replace(trim(lower($c)), '\s+', ' ', 'g')"
}
