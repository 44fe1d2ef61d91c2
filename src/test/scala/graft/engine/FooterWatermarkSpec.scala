package graft.engine

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The SCD2 watermark read from parquet footers (`Sources.footerMax`) equals
  * the watermark computed in a job, and the footers answer only for a bare
  * scan whose every row group carries statistics for the key.
  */
class FooterWatermarkSpec extends SparkSpec {

  private def tmp(name: String) = Files.createTempDirectory(name).resolve("t").toString

  // Small row groups: the writer closes one every ~100 rows past 1 KB.
  private def write(df: DataFrame, path: String, options: (String, String)*): String = {
    df.write.option("parquet.block.size", "1024").options(options.toMap).parquet(path)
    path
  }

  /** Per file, per row group: (row count, sk null count). */
  private def rowGroups(path: String): Seq[Seq[(Long, Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    Sources.parquet(spark, path).inputFiles.toSeq.map { f =>
      Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))) {
        _.getFooter.getBlocks.asScala.toSeq.map { b =>
          val sk = b.getColumns.asScala.find(_.getPath.toDotString == "sk").get
          (b.getRowCount, sk.getStatistics.getNumNulls)
        }
      }
    }
  }

  private def jobMax(df: DataFrame): Long =
    Option(df.agg(max(col("sk"))).head().get(0)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)

  /** Asserts the footers answer for `df` (or, with `footers = false`, that
    * they do not) and that the watermark equals the job's maximum. */
  private def check(df: DataFrame, footers: Boolean, clue: String): Unit = {
    assert(Sources.footerMax(df, "sk").isDefined == footers, clue)
    assert(Scd2.watermark(df, "sk") == jobMax(df), clue)
    assert(Scd2.scannedWatermark(df, "sk").getOrElse(0L) == jobMax(df), clue)
  }

  private def dim(n: Int, files: Int) = spark.range(0, n, 1, files)
    .select(((col("id") * 7919) % 100003).as("sk"), col("id").as("key"),
      concat(lit("name-"), col("id")).as("name"))

  test("a multi-file dimension with several row groups per file") {
    val path = write(dim(3000, 3), tmp("wm_multi"))
    val groups = rowGroups(path)
    assert(groups.size == 3 && groups.forall(_.size > 1), groups)
    check(Sources.parquet(spark, path), footers = true, "multi")
    assert(Sources.footerMax(Sources.parquet(spark, path), "sk").contains(
      Some(dim(3000, 3).agg(max("sk")).head().getLong(0))))
  }

  test("row groups whose key is all null, and a dimension with no key at all") {
    val path = write(dim(2000, 2).withColumn("sk",
      when(col("key") < 700, lit(null)).otherwise(col("sk"))), tmp("wm_nulls"))
    assert(rowGroups(path).flatten.exists { case (rows, nulls) => rows > 0 && nulls == rows })
    check(Sources.parquet(spark, path), footers = true, "some null")
    val allNull = write(dim(500, 2).withColumn("sk", lit(null).cast("long")), tmp("wm_allnull"))
    check(Sources.parquet(spark, allNull), footers = true, "all null")
    assert(Sources.footerMax(Sources.parquet(spark, allNull), "sk").contains(None))
  }

  test("an IntegerType key") {
    val path = write(dim(1500, 2).withColumn("sk", col("sk").cast("int")), tmp("wm_int"))
    val df = Sources.parquet(spark, path)
    assert(df.schema("sk").dataType == org.apache.spark.sql.types.IntegerType)
    check(df, footers = true, "int")
  }

  test("an empty dimension's watermark is 0") {
    val path = write(dim(0, 1), tmp("wm_empty"))
    val df = Sources.parquet(spark, path)
    assert(df.inputFiles.nonEmpty)
    check(df, footers = true, "empty")
    assert(Scd2.watermark(df, "sk") == 0L)
  }

  test("a filtered, computed, unioned, RDD or Hive-partitioned dimension takes the job path") {
    val path = write(dim(1000, 2), tmp("wm_job"))
    val bare = Sources.parquet(spark, path)
    check(bare.filter(col("key") % 3 =!= 0), footers = false, "filtered")
    check(bare.withColumn("sk", col("sk") + 1), footers = false, "computed")
    check(bare.unionByName(bare), footers = false, "union")
    check(spark.createDataFrame(bare.rdd, bare.schema), footers = false, "rdd")
    val parted = tmp("wm_parted")
    dim(1000, 2).withColumn("p", col("key") % 2).write.partitionBy("p").parquet(parted)
    check(Sources.parquet(spark, parted), footers = false, "partitioned")
    val doubles = write(dim(1000, 2).withColumn("sk", col("sk").cast("double")), tmp("wm_dbl"))
    check(Sources.parquet(spark, doubles), footers = false, "double key")
  }

  test("a file written without statistics falls back to the job") {
    val path = write(dim(1000, 2), tmp("wm_nostats"),
      "parquet.column.statistics.enabled" -> "false")
    check(Sources.parquet(spark, path), footers = false, "no stats")
    // one file without statistics among files with them
    val mixed = write(dim(1000, 2), tmp("wm_mixed"))
    dim(1000, 1).withColumn("sk", col("sk") + 200000).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(mixed)
    check(Sources.parquet(spark, mixed), footers = false, "mixed")
  }
}
