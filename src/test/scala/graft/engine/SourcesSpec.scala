package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {

  test("csv read honors header, multiLine, quote-escape (RFC-4180)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    // embedded newline, escaped quote ("" -> "), comma inside quotes
    Files.writeString(Paths.get(s"$dir/t.csv"),
      "id,name,notes\n1,\"line one\nline two\",plain\n2,\"say \"\"hi\"\", ok\",\"a,b\"\n")
    val df = Sources.csv(spark, dir)
    assert(df.columns.toSeq == Seq("id", "name", "notes"))
    assert(df.schema.forall(_.dataType == StringType), "no inferSchema: all strings")
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == "line one\nline two")
    assert(rows(1).getString(1) == "say \"hi\", ok")
    assert(rows(1).getString(2) == "a,b")
  }

  test("csvWithSchema parses straight into declared types") {
    val dir = Files.createTempDirectory("graft_csv2").toString
    Files.writeString(Paths.get(s"$dir/t.csv"), "id,price\n1,12.50\n2,99.99\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val df = Sources.csvWithSchema(spark, dir, schema)
    assert(df.schema == schema)
    assert(df.orderBy("id").collect().map(_.getDouble(1)).toSeq == Seq(12.5, 99.99))
  }

  test("csvSplittable reads newline-free CSV into many input partitions") {
    val dir = Files.createTempDirectory("graft_csv3").toString
    Files.writeString(Paths.get(s"$dir/t.csv"),
      "id,price\n" + (1 to 5000).map(i => s"$i,$i.25").mkString("\n") + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val df = Sources.csvSplittable(spark, dir, schema)
    assert(df.count() == 5000)
    // multiLine=true pins one task per file; the splittable variant may split
    // a single file once it crosses maxPartitionBytes — assert the option is
    // actually off by checking the read succeeds line-wise with same values
    assert(df.filter(org.apache.spark.sql.functions.col("id") === 4321L).head.getDouble(1) == 4321.25)
  }

  test("csvPermissive quarantines malformed rows in _corrupt_record") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_permissive")
    java.nio.file.Files.writeString(dir.resolve("in.csv"),
      "id,amount\n1,10.5\n2,notanumber\n3,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType)))
    val df = Sources.csvPermissive(spark, dir.toString, schema).cache()
    try {
      val bad = df.filter(col(Sources.CorruptCol).isNotNull)
      val good = df.filter(col(Sources.CorruptCol).isNull)
      assert(bad.count() === 1)
      assert(bad.head.getString(2) === "2,notanumber")
      assert(good.count() === 2)
      assert(good.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    } finally { df.unpersist(); () }
  }

  test("requireColumns fails fast with the missing list") {
    val df = spark.range(1).toDF("a")
    val e = intercept[IllegalArgumentException](Sources.requireColumns(df, Seq("a", "b", "c")))
    assert(e.getMessage.contains("b, c"))
  }

  test("parquetMergedSchema unions schemas across file generations") {
    val dir = Files.createTempDirectory("graft_evo").toString
    spark.range(3).toDF("id").write.parquet(s"$dir/gen=1")
    spark.range(3).toDF("id")
      .withColumn("added", org.apache.spark.sql.functions.lit("v2"))
      .write.parquet(s"$dir/gen=2")
    val df = Sources.parquetMergedSchema(spark, dir)
    assert(df.columns.toSet == Set("id", "added", "gen"))
    assert(df.count() == 6)
    assert(df.filter(org.apache.spark.sql.functions.col("added").isNull).count() == 3)
  }

  test("ParquetWarehouse sink saves tables the oracle side can read back") {
    val root = Files.createTempDirectory("graft_wh").toString
    val wh: Sinks.WarehouseSink = new Sinks.ParquetWarehouse(root)
    wh.save(spark.range(25).toDF("id"), "dim_probe")
    val back = spark.read.parquet(s"$root/dim_probe")
    assert(back.count() == 25)
  }

  test("writeAndReadBack roundtrips with maxRecordsPerFile splitting files") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/out"
    val df = spark.range(100).toDF("id")
    val back = Sinks.writeAndReadBack(spark, df, dir, maxRecordsPerFile = 10L)
    assert(back.count() == 100)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 2, s"expected multiple files from maxRecordsPerFile, got $files")
  }

  test("writeParquetObserved returns the write job's own audit metrics") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_observed").toString + "/t"
    val df = graft.Tables.customer(spark, sf0001).select("c_custkey", "c_acctbal")
    val metrics = Sinks.writeParquetObserved(df, dir, Map(
      "n_rows" -> count(lit(1)),
      "n_null_bal" -> count(when(col("c_acctbal").isNull, 1))))
    assert(metrics("n_rows") === df.count())
    assert(metrics("n_null_bal") === 0L)
    assert(spark.read.parquet(dir).count() === df.count())
  }

  // Keyed merges commit through TxLog.upsert / TxLog.applyChanges. The
  // titles below keep the name of the Sinks merge each case was first
  // written for.

  test("upsertParquet replaces same-key rows and inserts new ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_b").toString + "/t"
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    TxLog.upsert(spark, dir, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k")
    val got = TxLog.read(spark, dir).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("applyChangesPartitioned deletes, upserts, prunes untouched buckets and removes emptied ones") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_changes_p").toString + "/t"
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20), (4L, "d", 30))
      .toDF("k", "v", "p"), t, Some("p"))
    val p30 = TxLogSpec.partitionState(spark, t, "p=30")
    assert(p30._1.nonEmpty)
    // change set: delete k=1 (p=10 keeps k=2), delete k=3 (EMPTIES p=20),
    // replace k=2's value, insert k=9 into a new partition p=40; p=30 untouched
    assert(TxLog.applyChanges(spark, t,
      deletes = Seq((1L, 10), (3L, 20)).toDF("k", "p"),
      upserts = Seq((2L, "B", 10), (9L, "z", 40)).toDF("k", "v", "p"),
      key = "k", partitionCol = "p") === 1L)
    assert(TxLogSpec.partitionState(spark, t, "p=30") === p30,
      "untouched partition p=30 must keep its entries and exact files")
    assert(TxLogSpec.partitionState(spark, t, "p=20")._1.isEmpty,
      "a partition emptied by deletes must drop out of the manifest")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[Int]("p")))).toMap
    assert(got === Map(2L -> ("B", 10), 9L -> ("z", 40), 4L -> ("d", 30)))
  }

  test("concurrent upserts of disjoint partitions never clobber each other's staging") {
    // two sessions upserting DISJOINT partitions of one table at once: the
    // loser of the commit claim re-merges against the winner's snapshot,
    // so both must land. Sessions are independent (newSession: own SQLConf).
    import spark.implicits._
    val t = Files.createTempDirectory("graft_upsert_cc").toString + "/t"
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "p"),
      t, Some("p"))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(p: Int, k: Long): Thread = new Thread(() => {
      try {
        val s = spark.newSession()
        import s.implicits._
        val batch = Seq((k, s"w$p", p)).toDF("k", "v", "p")
        gate.await()
        TxLog.upsert(s, t, batch, "k", Some("p")): Unit
      } catch { case e: Throwable => errs.add(e): Unit }
    })
    val (t1, t2) = (writer(10, 8L), writer(20, 9L))
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"upsert thread failed: ${errs.peek()}")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got === Map(1L -> "a", 8L -> "w10", 2L -> "b", 9L -> "w20", 3L -> "c"),
      "both writers' merges must land; neither may clobber the other")
  }

  test("applyChangesPartitioned rejects a delete naming a partition its key does not live in") {
    // a delete carrying a stale/wrong partition value would silently no-op
    // (the key's real partition is never read), and a same-key upsert into
    // a new partition would then leave a duplicate: it must fail loudly
    import spark.implicits._
    val t = Files.createTempDirectory("graft_changes_bad").toString + "/t"
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p"), t, Some("p"))
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t,
        deletes = Seq((2L, 10)).toDF("k", "p"), // k=2 actually lives in p=20
        upserts = Seq((9L, "z", 10)).toDF("k", "v", "p"),
        key = "k", partitionCol = "p")
    }
    assert(e.getMessage.contains("delete"),
      s"expected the delete-contract failure, got: ${e.getMessage}")
    // the table is untouched by the failed call
    assert(TxLog.snapshot(spark, t).version === 0L, "a failed merge must commit nothing")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got === Map(1L -> "a", 2L -> "b"))
  }

  test("applyChangesPartitioned converges on a replayed change batch") {
    // foreachBatch delivers at-least-once: a crash between the commit and
    // the checkpoint re-delivers the whole batch. A replayed DELETE's key is
    // then absent from the table entirely; that must converge as an
    // idempotent no-op, while the wrong-partition case still fails loudly.
    import spark.implicits._
    val t = Files.createTempDirectory("graft_changes_rp").toString + "/t"
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p"), t, Some("p"))
    def apply(): Long = TxLog.applyChanges(spark, t,
      deletes = Seq((1L, 10)).toDF("k", "p"),
      upserts = Seq((9L, "z", 20)).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    def got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(apply() === 1L) // first delivery
    assert(got === Map(2L -> "b", 9L -> "z"))
    assert(apply() === 2L) // replay: delete key k=1 is already gone
    assert(got === Map(2L -> "b", 9L -> "z"),
      "a replayed change batch must land the same table, not fail")
  }

  test("applyChangesPartitioned rejects a NULL delete key loudly") {
    // every equality in the merge (full_outer) and in the wrong-partition
    // probe (left_anti/left_semi) is null-dropping, so a delete row with a
    // NULL key would read as "absent from the table entirely" and converge
    // silently as a presumed replay no-op: a malformed change batch must
    // fail instead, with nothing committed, staged or changed
    import spark.implicits._
    val t = Files.createTempDirectory("graft_changes_nk").toString + "/t"
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p"), t, Some("p"))
    def commitDirs = new java.io.File(s"$t/data").list().toSet
    val dirsBefore = commitDirs
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t,
        deletes = Seq((Option.empty[Long], 10)).toDF("k", "p"),
        upserts = Seq((9L, "z", 10)).toDF("k", "v", "p"),
        key = "k", partitionCol = "p")
    }
    assert(e.getMessage.contains("NULL key"),
      s"expected the NULL-delete-key rejection, got: ${e.getMessage}")
    assert(TxLog.snapshot(spark, t).version === 0L, "a rejected batch must commit nothing")
    assert(commitDirs === dirsBefore, "a rejected batch must stage nothing")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got === Map(1L -> "a", 2L -> "b"), "table must be untouched")
  }

  test("sinks refresh only the caches over the path they rewrite") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cache_scope").toString
    val (other, t) = (s"$root/other", s"$root/t")
    Sinks.writeParquet(Seq(1L, 2L).toDF("k"), other)
    val unrelated = spark.read.parquet(other).cache()
    Sinks.writeParquet(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val cached = spark.read.parquet(t).cache()
    try {
      assert(unrelated.count() === 2 && cached.count() === 2)
      // a new query over the cached frame each time: an executed Dataset
      // keeps its physical plan, and with it the file list it planned
      def rows = cached.select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def stillCached(sink: String): Unit =
        assert(unrelated.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          s"$sink must leave a cache over an unrelated path in place")
      Sinks.compactParquet(spark, t, targetFiles = 1)
      assert(rows === Map(1L -> "a", 2L -> "b"))
      stillCached("compactParquet")
      Sinks.writeAndReadBack(spark, Seq((4L, "d")).toDF("k", "v"), t)
      assert(rows === Map(4L -> "d"),
        "a frame cached over the rewritten path must return the new rows")
      stillCached("writeAndReadBack")
      val parted = s"$root/parted"
      Sinks.writePartitioned((1L to 6L).map(k => (k, "v", 1)).toDF("k", "v", "p"),
        parted, Seq("p"), maxRecordsPerFile = 2L)
      assert(Sinks.compactPartitions(spark, parted, targetFiles = 1, minFiles = 2) === 1)
      stillCached("compactPartitions")
    } finally { unrelated.unpersist(); cached.unpersist(): Unit }
  }

  test("compactPartitions rewrites only fragmented partitions, preserving rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_p").toString + "/t"
    // p=10 fragments into many files (per-row cap); p=20 stays compact
    Sinks.writePartitioned(
      (1L to 40L).map(k => (k, s"v$k", 10)).toDF("k", "v", "p"),
      dir, Seq("p"), maxRecordsPerFile = 5L)
    Sinks.overwritePartitionsDynamic(
      Seq((100L, "w", 20)).toDF("k", "v", "p"), dir, Seq("p"))
    def files(p: Int): Set[(String, Long)] =
      new java.io.File(s"$dir/p=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    assert(files(10).size > 4, s"fixture must start fragmented, got ${files(10).size}")
    val compactBefore = files(20)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Int]("p"))).toSet
    val n = Sinks.compactPartitions(spark, dir, targetFiles = 1, minFiles = 2)
    assert(n === 1, s"exactly the fragmented p=10 should compact, got $n")
    assert(files(10).size === 1, s"p=10 should be one file, got ${files(10).size}")
    assert(files(20) === compactBefore,
      "the already-compact partition must keep its exact files")
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Int]("p"))).toSet
    assert(after === before, "compaction must not change a single row")
    // idempotent: nothing left over the threshold
    assert(Sinks.compactPartitions(spark, dir, targetFiles = 1, minFiles = 2) === 0)
  }

  test("compactParquet collapses a many-file directory, preserving rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/out"
    val df = graft.Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    Sinks.writeParquet(df, dir, maxRecordsPerFile = 50L) // force many small files
    def parquetFiles() =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before > 2, s"fixture should start fragmented, got $before files")
    Sinks.compactParquet(spark, dir, targetFiles = 2)
    assert(parquetFiles() <= 2, s"expected <=2 files after compaction, got ${parquetFiles()}")
    val back = spark.read.parquet(dir)
    assert(back.count() === df.count())
    assert(back.except(df).count() === 0 && df.except(back).count() === 0)
  }

  test("writeRangeClustered: output files cover disjoint key ranges") {
    import org.apache.spark.sql.functions.{min, max, col}
    val dir = Files.createTempDirectory("graft_cluster").toString + "/out"
    val df = graft.Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    Sinks.writeRangeClustered(df, dir, "o_orderkey", numFiles = 5)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size > 1, "fixture should produce multiple files")
    // footer min/max stats only skip files when ranges are disjoint —
    // verify by reading each file's actual key range
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"file ranges overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() === df.count())
  }

  test("writePartitioned clusters by the partition key: one file per directory") {
    import org.apache.spark.sql.functions.col
    val df = graft.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority").as("p"))
    def partDirs(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("p=")).toSeq
    def filesIn(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
    // naive partitionBy would write (upstream tasks) x (5 priorities) sliver
    // files; the clustering shuffle must land each value in exactly one task
    val one = Files.createTempDirectory("graft_partwrite").toString + "/one"
    Sinks.writePartitioned(df, one, Seq("p"))
    val dirs = partDirs(one)
    assert(dirs.size == 5, s"expected 5 priority directories, got ${dirs.size}")
    dirs.foreach(d => assert(filesIn(d) == 1,
      s"clustered write must put ONE file in ${d.getName}, got ${filesIn(d)}"))
    // salted fan-out for skew: at most writersPerPartition files per dir,
    // more than one for a value large enough to spread over the salt. At
    // test sizes AQE coalesces the salted shuffle back into one task (the
    // right call on small data — it merges the salt slivers away), so pin
    // the fan-out with AQE off, the shape a genuinely hot partition sees.
    val fan = Files.createTempDirectory("graft_partwrite").toString + "/fan"
    val aqeKey = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try Sinks.writePartitioned(df, fan, Seq("p"), writersPerPartition = 3)
    finally spark.conf.set(aqeKey, savedAqe)
    val fanCounts = partDirs(fan).map(filesIn)
    assert(fanCounts.forall(_ <= 3), s"salt must bound files per dir at 3: $fanCounts")
    assert(fanCounts.exists(_ > 1), s"expected some fan-out under the salt: $fanCounts")
    // layout is invisible to readers: same rows either way
    val a = spark.read.parquet(one)
    val b = spark.read.parquet(fan)
    assert(a.count() === df.count())
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("writeBucketedAt lands exactly one file per bucket") {
    val dir = Files.createTempDirectory("graft_bucketlayout").toString + "/t"
    val df = graft.Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    try {
      Sinks.writeBucketedAt(df, "g_layout_probe", Some(dir), Seq("o_orderkey"),
        numBuckets = 4, sortCols = Seq("o_orderkey"))
      // naive bucketBy writes (upstream tasks) x 4 files; the pre-shuffle
      // must land each bucket as one compact file
      val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket (4), got $files")
      val back = spark.table("g_layout_probe")
      assert(back.count() === df.count())
      assert(back.except(df).count() === 0 && df.except(back).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS g_layout_probe")
  }

  test("overwritePartitionsDynamic replaces only the written partitions") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("graft_dynpart").toString + "/out"
    val base = graft.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus").as("p"))
    Sinks.writePartitioned(base, dir, Seq("p"))
    val before = spark.read.parquet(dir)
    val nOther = before.filter(col("p") =!= "F").count()
    assert(nOther > 0)
    // rewrite ONLY partition p=F with a single sentinel row
    val replacement = base.filter(col("p") === "F").limit(1)
      .withColumn("o_totalprice", lit(-1.0))
    Sinks.overwritePartitionsDynamic(replacement, dir, Seq("p"))
    spark.catalog.clearCache()
    val after = spark.read.parquet(dir)
    assert(after.filter(col("p") =!= "F").count() === nOther,
      "sibling partitions must survive a dynamic overwrite")
    assert(after.filter(col("p") === "F").count() === 1)
    assert(after.filter(col("p") === "F").head().getAs[Double]("o_totalprice") === -1.0)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").forall(_ != "dynamic"),
      "conf must be restored after the scoped write")
  }

  test("JSON-lines sink + schema'd source roundtrips types exactly") {
    val dir = Files.createTempDirectory("graft_json").toString + "/out"
    val df = graft.Tables.orders(spark, sf0001).select(
      org.apache.spark.sql.functions.col("o_orderkey"),
      org.apache.spark.sql.functions.col("o_totalprice")
        .cast("double").as("total"),
      org.apache.spark.sql.functions.col("o_orderdate"))
    Sinks.writeJson(df, dir)
    val back = Sources.jsonLines(spark, dir, df.schema)
    assert(back.schema === df.schema)
    assert(back.except(df).count() === 0)
    assert(df.except(back).count() === 0)
  }

  // One parquet reader: a parquet read built anywhere but Sources would take
  // its schema its own way (inferred in a job at construction). A reader
  // chain is matched over each file's whole text, so one broken across
  // lines, or carrying option/schema steps, or naming the format, counts.
  test("only Sources builds a parquet read in src/main") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.size > 50, s"expected the library sources under ${root.toAbsolutePath}")
    val step = """\s*\.(?:options?|schema|format)\((?:[^()]|\([^()]*\))*\)"""
    val parquetRead = (raw"""\.read\s*\.schema\(|\.read(?:$step)*\s*\.parquet\(""" +
      raw"""|\.read(?:$step)*?\s*\.format\(\s*"parquet"\s*\)""").r
    val hits = files.filterNot(_.endsWith(Paths.get("graft/engine/Sources.scala")))
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), "UTF-8")
        parquetRead.findAllMatchIn(text).map(m =>
          s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched.replaceAll("\\s+", " ")}")
      }
    assert(hits.isEmpty, hits.mkString("parquet reads outside Sources:\n", "\n", ""))
  }
}
