package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.Tables

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  test("TopKPerKey equals the window row_number formulation") {
    // Pin the rank filter to the REAL window plan: with the TopKRankRewrite
    // installed session-wide, the window formulation would otherwise be
    // silently rewritten into the very operator under test.
    spark.conf.set("spark.graft.topkRewrite.enabled", "false")
    try {
      val o = Tables.orders(spark, sf0001)
        .select("o_custkey", "o_orderkey", "o_totalprice")
      val viaCustom = TopKPerKey.of(o, Seq("o_custkey"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
      val viaWindow = o.withColumn("rank",
          row_number().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("int"))
        .filter(col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
      assert(viaWindow.queryExecution.executedPlan.toString.contains("Window "))
      assert(viaCustom.count() === viaWindow.count())
      assert(viaCustom.except(viaWindow).count() === 0)
      assert(viaWindow.except(viaCustom).count() === 0)
    } finally spark.conf.unset("spark.graft.topkRewrite.enabled")
  }

  test("physical plan uses TopKPerKeyExec with a hash exchange, no sort") {
    val o = Tables.orders(spark, sf0001).select("o_custkey", "o_orderkey", "o_totalprice")
    val df = TopKPerKey.of(o, Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey ["), physical)
    assert(physical.contains("Exchange hashpartitioning"), physical)
    assert(!physical.contains("Sort ["), s"heap top-k must not sort:\n$physical")
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "(?<!Broadcast)Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** `ordersTop(k)` as the window form: row_number over the customer's
    * orders by price desc, order key asc, cut at `k`. The rewrite is off so
    * the window really plans as a window.
    */
  private def windowTop(o: org.apache.spark.sql.DataFrame, k: Int) =
    o.withColumn("rank",
        row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("int"))
      .filter(col("rank") <= k)

  private def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) = {
    assert(a.count() === b.count())
    assert(a.except(b).count() === 0)
    assert(b.except(a).count() === 0)
  }

  test("a top-k fed into a second top-k on the same key plans one exchange") {
    spark.conf.set("spark.graft.topkRewrite.enabled", "false")
    try {
      val o = Tables.orders(spark, sf0001)
        .select("o_custkey", "o_orderkey", "o_totalprice")
      val order = Seq("o_totalprice" -> false, "o_orderkey" -> true)
      val twice = TopKPerKey.of(
          TopKPerKey.of(o, Seq("o_custkey"), order, k = 3).drop("rank"),
          Seq("o_custkey"), order, k = 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
      assert(exchanges(twice) === 1, twice.queryExecution.executedPlan.toString)
      sameRows(twice, windowTop(o, 2).select("o_custkey", "o_orderkey", "o_totalprice", "rank"))
    } finally spark.conf.unset("spark.graft.topkRewrite.enabled")
  }

  test("a top-k feeding an aggregate grouped on a superset of its keys plans one exchange") {
    spark.conf.set("spark.graft.topkRewrite.enabled", "false")
    try {
      val o = Tables.orders(spark, sf0001)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus")
      def agg(top: org.apache.spark.sql.DataFrame) =
        top.groupBy("o_custkey", "o_orderstatus")
          .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("best"))
      val viaHeap = agg(TopKPerKey.of(o, Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3))
      assert(exchanges(viaHeap) === 1, viaHeap.queryExecution.executedPlan.toString)
      sameRows(viaHeap, agg(windowTop(o, 3)))
    } finally spark.conf.unset("spark.graft.topkRewrite.enabled")
  }

  test("k larger than group size returns whole groups, ranks dense") {
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("k", "v")
    val out = TopKPerKey.of(df, Seq("k"), Seq("v" -> false), k = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(out === Set((1, 20, 1), (1, 10, 2), (2, 30, 1)))
  }

  test("ties broken by the tiebreaker column, deterministically") {
    val df = Seq((1, 5.0, "b"), (1, 5.0, "a"), (1, 5.0, "c")).toDF("k", "s", "t")
    val out = TopKPerKey.of(df, Seq("k"), Seq("s" -> false, "t" -> true), k = 2)
      .select("t", "rank").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out === Set(("a", 1), ("b", 2)))
  }
}
