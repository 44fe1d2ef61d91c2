package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KeysDedupDateSpec extends SparkSpec {
  import spark.implicits._

  test("surrogateKeysScalable output equals reference-faithful row_number form") {
    // shuffled, non-contiguous keys across multiple partitions
    val df = spark.range(0, 997).select((col("id") * 7919 % 10007).as("k")).repartition(8)
    val faithful = Keys.surrogateKeys(df, "k", "sk", offset = 42L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 5: the two-phase RDD scan; 1: the in-plan pass
    for (n <- Seq(5, 1)) {
      val scalable = Keys.surrogateKeysScalable(df, "k", "sk", offset = 42L, partitions = n)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(faithful.toSeq == scalable.toSeq)
      assert(scalable.map(_._2).toSeq == (43L until 43L + 997L))
    }
  }

  test("globalRunningSum equals the single-task running-sum window") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 997)
      .select((col("id") * 7919 % 10007).as("k"), (col("id") % 13 + 1).as("v"))
      .repartition(8)
    val naive = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
    // 5: the two-phase RDD scan; 1: the in-plan pass
    val ns = Seq(5, 1)
    for (n <- ns) {
      val scalable = Keys.globalRunningSum(df, "k", "v", "cum", partitions = n)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(naive.toSeq == scalable.toSeq)
    }
    // the exclusive prefix max rides the same two-phase scan; the global
    // first row has no prior row, so its max is null
    def maxes(out: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Long])] =
      out.orderBy("k").collect().toSeq
        .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    val naiveMax = maxes(df.withColumn("pmax",
      max(col("v")).over(Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1))))
    assert(naiveMax.head._2.isEmpty && naiveMax.tail.forall(_._2.nonEmpty))
    for (n <- ns)
      assert(naiveMax == maxes(Keys.globalPrefixMaxBy(df, Seq(col("k")), "v", "pmax", partitions = n)))
  }

  test("two-phase ntile formula matches the window ntile on a non-divisible n") {
    import org.apache.spark.sql.expressions.Window
    // n = 23, k = 10 -> r = 3 leading buckets of 3, seven of 2 (the branch
    // the even-sized test tables never exercise)
    val df = spark.range(0, 23).select((col("id") * 131 % 97).as("v")).repartition(4)
    val viaNtile = df.withColumn("b", ntile(10).over(Window.orderBy("v")))
      .groupBy("b").count().orderBy("b")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val ranked = Keys.surrogateKeysScalable(df, "v", "rank", partitions = 3)
    val viaFormula = ranked
      .select(Keys.ntileFromRank(col("rank"), lit(23L), 10).as("b"))
      .groupBy("b").count().orderBy("b")
      .collect().map(r2 => (r2.getInt(0), r2.getLong(1)))
    assert(viaFormula.toSeq == viaNtile.toSeq)
  }

  test("date spine has reference cardinality: 2010..2030 = 7670 rows") {
    assert(DateDim.dateSpine(spark, "2010-01-01", "2030-12-31").count() == 7670L)
  }

  test("calendar attributes: known date spot-check") {
    val r = DateDim.build(spark, "2026-08-09", "2026-08-09").collect().head
    // 2026-08-09 is a Sunday
    assert(r.getAs[Int]("year") == 2026 && r.getAs[Int]("quarter") == 3)
    assert(r.getAs[Int]("day_of_week") == 1 && r.getAs[String]("day_name") == "Sunday")
    assert(r.getAs[Boolean]("is_weekend"))
  }

  test("keepFirstByKey is deterministic under duplicate keys") {
    val df = Seq((1, "b", 2), (1, "a", 1), (2, "c", 9), (1, "a", 0)).toDF("k", "s", "o")
    val got = Dedup.keepFirstByKey(df, Seq("k"), Seq("o", "s")).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1, "a", 0), (2, "c", 9)))
  }

  test("dropAllDuplicates removes exact copies only") {
    val df = Seq((1, "a"), (1, "a"), (1, "b")).toDF("k", "s")
    assert(Dedup.dropAllDuplicates(df).count() == 2)
    assert(Dedup.distinctKeys(df, Seq("k")).count() == 1)
  }
}
