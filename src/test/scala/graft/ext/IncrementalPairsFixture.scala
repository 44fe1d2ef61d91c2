package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Sinks, Sources}

/** A versioned-corpus step for [[NearDup.incrementalPairs]] over the
  * documents fixture: version A's pairs, signatures and shingle sets,
  * persisted to parquet and read back (as the `SharedFrames` artifacts are),
  * and the change to version B. One doc in eight is removed, one in eight
  * revised, and one in eight cloned under a fresh negative id, so the fresh
  * slice pairs with unchanged docs.
  */
case class IncrementalPairsFixture(oldPairs: DataFrame, oldSigs: DataFrame,
    oldShingles: DataFrame, gone: DataFrame, fresh: DataFrame, versionB: DataFrame) {

  def pairs: DataFrame = NearDup.incrementalPairs(oldPairs, oldSigs, oldShingles, gone, fresh,
    "doc_id", "text", IncrementalPairsFixture.N, IncrementalPairsFixture.K,
    IncrementalPairsFixture.Bands, IncrementalPairsFixture.Threshold)
}

object IncrementalPairsFixture {
  val N = 3
  val K = 64
  val Bands = 16
  val Threshold = 0.8

  def apply(spark: SparkSession, dir: String): IncrementalPairsFixture = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val bucket = pmod(xxhash64(col("doc_id")), lit(8L))
    val scratch = java.nio.file.Files.createTempDirectory("incremental_pairs").toString
    def persisted(name: String, df: DataFrame): DataFrame = {
      Sinks.writeParquet(df, s"$scratch/$name")
      Sources.parquet(spark, s"$scratch/$name")
    }
    val oldShingles = persisted("sh", NearDup.shingleFrame(docs, "doc_id", "text", N))
    val oldSigs = persisted("sigs", NearDup.minHashSignatureFrame(oldShingles, "doc_id", K))
    val oldPairs = persisted("pairs",
      NearDup.minHashNearDupPairs(docs, "doc_id", "text", N, K, Bands, Threshold))
    val gone = docs.filter(bucket.isin(0L, 1L)).select("doc_id")
    val fresh = docs.filter(bucket === 1L)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
      .unionByName(docs.filter(bucket === 2L)
        .select((-col("doc_id") - 1L).as("doc_id"), concat(col("text"), lit(" new")).as("text")))
    IncrementalPairsFixture(oldPairs, oldSigs, oldShingles, gone, fresh,
      docs.join(gone, Seq("doc_id"), "left_anti").unionByName(fresh))
  }
}
