package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload shares: the session, the tracer, and its directories. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File, val seed: Long) {
  val input = new File(work, "input")
  def path(rel: String): String = new File(work, rel).getAbsolutePath
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** `Keys.surrogateKeysScalable` wrapped in a span, passed to `Scd2` as its
    * public `keying` parameter so key assignment is traced on its own.
    */
  val keying: (DataFrame, String, String, Long) => DataFrame =
    (df, key, sk, offset) => span("keys.surrogate")(
      graft.engine.Keys.surrogateKeysScalable(df, key, sk, offset))
}

/** One benchmark workload. `op(i)` is the timed unit of user work;
  * everything else runs untimed around it.
  */
trait Workload {
  /** Writes the seed's inputs under `ctx.input` (timed as generation). */
  def generate(): GenInfo
  /** Untimed state the first op needs. */
  def setup(): Unit = ()
  /** Untimed per-op preparation, such as writing the day's feed. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Unit
  /** Untimed reference result, computed once after the cold op. */
  def reference(): Unit = ()
  /** Names of the output checks op `i` failed (empty when all passed). */
  def check(i: Int): Seq[String]
  /** The op's output quality: for an exact-match check 1.0 when it passed and
    * 0.0 when it failed, else the measured score.
    */
  def quality(i: Int): Double
  def inputRows(i: Int): Long
  def inputBytes(i: Int): Long
  /** Bytes op `i` wrote under the workload's output directories. */
  def writtenBytes(i: Int): Long
  /** Workload-measured per-layer values for a traced op (untimed). */
  def layer(i: Int): Map[String, Double] = Map.empty
  /** Whether op `i` wrote a commit-log checkpoint. */
  def checkpointed(i: Int): Boolean = false
  /** Overwrites one row of the published output (the check's self-test). */
  def corrupt(): Unit
}

/** Order-independent digest of a table: its sorted (column, type) list, row
  * count and the sum of per-row xxhash64 values.
  */
final case class Digest(schema: String, rows: Long, hash: String)

object Digest {
  private def agg(df: DataFrame, tag: String): DataFrame = {
    val cols = df.columns.sorted
    val schema = cols.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(",")
    df.select(cols.map(col).toSeq: _*)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols.map(col).toSeq: _*).cast("decimal(20,0)")),
          lit(0).cast("decimal(30,0)")).cast("string").as("h"))
      .select(lit(tag).as("t"), lit(schema).as("s"), col("n"), col("h"))
  }

  /** Digests of several tables in one Spark job. */
  def of(tables: Seq[(String, DataFrame)]): Map[String, Digest] =
    tables.map { case (t, df) => agg(df, t) }.reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> Digest(r.getString(1), r.getLong(2), r.getString(3)))
      .toMap

  /** Names of the tables whose digests differ from the reference. */
  def mismatches(expected: Map[String, Digest], actual: Map[String, Digest]): Seq[String] = {
    val bad = expected.keys.toSeq.sorted.filterNot(t => actual.get(t).contains(expected(t)))
    bad.foreach(t => System.err.println(s"output check $t: expected ${expected(t)}, got ${actual.get(t)}"))
    bad
  }
}

object Corrupt {
  /** Rewrites one parquet file of a published table with the first row's
    * first numeric column changed — the "one corrupted output row" that the
    * output check must catch.
    */
  def oneRow(spark: SparkSession, dataFile: File): Unit = {
    import org.apache.spark.sql.types.NumericType
    val df = spark.read.parquet(dataFile.getAbsolutePath)
    val target = df.schema.fields.find(_.dataType.isInstanceOf[NumericType]).get.name
    val rows = df.collect()
    require(rows.nonEmpty, s"cannot corrupt empty file $dataFile")
    val first = rows.head
    val i = first.fieldIndex(target)
    val bumped = org.apache.spark.sql.Row.fromSeq(first.toSeq.updated(i, first.get(i) match {
      case x: Long => x + 1L
      case x: Int => x + 1
      case x: Double => x + 1.0
      case x: java.math.BigDecimal => x.add(java.math.BigDecimal.ONE)
      case null => 0
      case x => x
    }))
    val tmp = new File(dataFile.getParentFile.getParentFile, s".corrupt-${System.nanoTime}")
    spark.createDataFrame(java.util.Arrays.asList((bumped +: rows.tail.toSeq): _*), df.schema)
      .coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles.find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val crc = new File(dataFile.getParentFile, s".${dataFile.getName}.crc")
    crc.delete()
    java.nio.file.Files.move(part.toPath, dataFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteTree(tmp)
  }

  def firstParquet(dir: File): File =
    Files.tree(dir).find(f => f.getName.endsWith(".parquet")).getOrElse(
      throw new IllegalStateException(s"no parquet file under $dir"))
}
