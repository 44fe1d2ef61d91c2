package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.{IvfPq, Similarity}

/** Job budgets for the paper pipeline's hot operators: Spark job launches,
  * not compute, dominate a nightly load at this size, so the counts are
  * pinned here and a change that restores an extra job fails loudly.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs started while `body` runs: every job seen before the start
    * of the marker job that closes the window (graft.ListenerMarker).
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val count = new AtomicInteger
    @volatile var closed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (graft.ListenerMarker.isMarker(e.properties)) closed = true
        else if (!closed) count.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      graft.ListenerMarker.close(sc)
      count.get
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(name: String) = Files.createTempDirectory(name).resolve("t").toString

  private def sample = Seq(
      (1L, "a", BigDecimal("1.25"), java.sql.Timestamp.valueOf("2021-01-01 00:00:00")),
      (2L, null, BigDecimal("2.50"), null))
    .toDF("id", "s", "d", "ts")
    .withColumn("d", col("d").cast("decimal(12,2)"))
    .withColumn("arr", array(col("id"), col("id") + 1))
    .withColumn("st", struct(col("id").as("x"), col("s").as("y")))

  test("Sources.parquet builds an unpartitioned read with no job and Spark's schema") {
    val path = tmp("budget_flat")
    sample.repartition(3).write.parquet(path)
    var df: DataFrame = null
    assert(jobsIn { df = Sources.parquet(spark, path) } == 0)
    // The counter sees schema inference when it happens.
    var plain: DataFrame = null
    assert(jobsIn { plain = spark.read.parquet(path) } >= 1)
    assert(df.schema == plain.schema)
    assert(df.collect().toSet == plain.collect().toSet)
  }

  test("Sources.parquet infers Hive partition columns from the paths, with no job") {
    val path = tmp("budget_parted")
    sample.withColumn("bucket", col("id") % 2).write.partitionBy("bucket").parquet(path)
    var df: DataFrame = null
    assert(jobsIn { df = Sources.parquet(spark, path) } == 0)
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(df.schema.fieldNames.last == "bucket")
    assert(df.collect().toSet == plain.collect().toSet)
  }

  test("Sources.parquet on a missing path throws Spark's own error") {
    val path = tmp("budget_missing")
    val ours = intercept[Exception](Sources.parquet(spark, path))
    val spark0 = intercept[Exception](spark.read.parquet(path))
    assert(ours.getClass == spark0.getClass)
    assert(ours.getMessage == spark0.getMessage)
  }

  test("Sources.csv reads the header with no job, to Spark's schema and rows") {
    val dir = Files.createTempDirectory("budget_csv")
    // The first file in path order is empty; the header has an empty and a
    // (case-insensitively) duplicate name; a quoted field spans two lines.
    val header = "id,name,,Name,note\n"
    Files.writeString(dir.resolve("part-0.csv"), "")
    Files.writeString(dir.resolve("part-1.csv"),
      header + "1,a,x,A,\"two\nlines\"\n2,b,,B,\"say \"\"hi\"\", ok\"\n")
    Files.writeString(dir.resolve("part-2.csv"), header + "3,c,z,C,plain\n")
    var df: DataFrame = null
    assert(jobsIn { df = Sources.csv(spark, dir.toString) } == 0)
    var plain: DataFrame = null
    assert(jobsIn { plain = spark.read.options(Sources.csvOptions).csv(dir.toString) } >= 1)
    assert(df.schema == plain.schema)
    assert(df.columns.toSeq == Seq("id", "name1", "_c2", "Name3", "note"))
    assert(df.collect().toSet == plain.collect().toSet)
    assert(df.filter(col("id") === "1").head.getString(4) == "two\nlines")
  }

  test("Sources.csv on a missing path throws Spark's own error") {
    val path = tmp("budget_csv_missing")
    val ours = intercept[Exception](Sources.csv(spark, path))
    val spark0 = intercept[Exception](spark.read.options(Sources.csvOptions).csv(path))
    assert(ours.getClass == spark0.getClass)
    assert(ours.getMessage == spark0.getMessage)
  }

  test("Keys.surrogateKeysScalable on a one-partition input builds with no job") {
    val path = tmp("budget_keys")
    spark.range(200).select((col("id") * 7919 % 10007).as("k"), col("id").as("v"))
      .write.parquet(path)
    val input = Sources.parquet(spark, path).filter(col("v") % 3 =!= 0)
    assert(Partitions.sortSpreadCount(input) == 1)
    var keyed: DataFrame = null
    assert(jobsIn { keyed = Keys.surrogateKeysScalable(input, "k", "sk", offset = 7L) } == 0)
    assert(keyed.collect().toSet ==
      Keys.surrogateKeys(input, "k", "sk", offset = 7L).collect().toSet)
  }

  test("Tables.read builds every test table with no job, to the inferred read's schema and rows") {
    for (t <- graft.Tables.names) {
      var df: DataFrame = null
      assert(jobsIn { df = graft.Tables.read(spark, sf0001, t) } == 0, t)
      val inferred = spark.read.parquet(s"$sf0001/$t.parquet")
      assert(df.schema == inferred.schema, t)
      assert(df.collect().toSet == inferred.collect().toSet, t)
    }
  }

  // events.ts as the fixtures have shipped it: INT64 TIMESTAMP(NANOS), which
  // the session reads as raw nanos longs (nanosAsLong), and TIMESTAMP(MICROS)
  // with no UTC adjustment, which Spark reads as TIMESTAMP_NTZ.
  private def writeEvents(dir: String, unit: String, perMicro: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(s"""message events {
      optional int64 event_id; optional int64 ts (TIMESTAMP($unit,false));
      optional int64 user_id; optional binary event_type (STRING);
      optional double value; optional binary props (STRING); }""")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 5L).foreach { i =>
      val g = rows.newGroup().append("event_id", i)
      // sub-microsecond nanos truncate; one row has no ts
      if (i != 3L) g.append("ts", (1700000000000000L + i * 3600000000L) * perMicro + i % 2)
      w.write(g.append("user_id", i % 2).append("event_type", s"t${i % 3}")
        .append("value", i * 1.5).append("props", "{}"))
    } finally w.close()
  }

  test("Tables.events reads both events.ts encodings with no job, as the inferred read does") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    for ((unit, perMicro, raw) <-
        Seq(("NANOS", 1000L, LongType), ("MICROS", 1L, TimestampNTZType))) {
      val dir = Files.createTempDirectory(s"budget_events_$unit").toString
      writeEvents(dir, unit, perMicro)
      val plain = spark.read.parquet(s"$dir/events.parquet")
      assert(plain.schema("ts").dataType == raw, unit)
      var df: DataFrame = null
      assert(jobsIn { df = graft.Tables.events(spark, dir) } == 0, unit)
      val inferred = graft.Tables.normalizeTs(plain)
      assert(df.schema == inferred.schema, unit)
      assert(df.schema("ts").dataType == TimestampType, unit)
      assert(df.collect().toSet == inferred.collect().toSet, unit)
      assert(df.filter(col("ts").isNull).count() == 1L, unit)
      assert(graft.streaming.EventStreams.streamingEvents(spark, dir).schema == inferred.schema,
        unit)
    }
  }

  test("a SharedFrames artifact's second call (a memo hit) builds with no job") {
    import graft.queries.SharedFrames
    val first = SharedFrames.simhashSigs(spark, sf0001).collect().toSet
    var again: DataFrame = null
    assert(jobsIn { again = SharedFrames.simhashSigs(spark, sf0001) } == 0)
    assert(again.collect().toSet == first)
    // the IVF-PQ index: three memo parts under one key
    val codes = SharedFrames.ivfPqIndex(spark, sf0001).codes.collect().toSet
    var ix: graft.ext.IvfPq.Index = null
    assert(jobsIn { ix = SharedFrames.ivfPqIndex(spark, sf0001) } == 0)
    assert(ix.codes.columns.toSeq == Seq("id", "cell", "m", "g"))
    assert(ix.codes.collect().toSet == codes)
  }

  test("Sinks.writeAndReadBack runs only its write's jobs") {
    val write = jobsIn { Sinks.writeParquet(sample, tmp("budget_wrb_write")) }
    val path = tmp("budget_wrb")
    var back: DataFrame = null
    assert(jobsIn { back = Sinks.writeAndReadBack(spark, sample, path) } == write)
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.collect().toSet == sample.collect().toSet)
  }

  // The partition-scoped merge behind the streaming upsert sinks and the
  // incremental maintenance gates, on a 40-row table in 4 partitions.
  // Computed (not literal) change frames, as the gates pass them, so the
  // cached-change path is the one counted. Measured: 8 jobs for a merge
  // with deletes, 7 for an upsert (its folded-away deletes are not cached);
  // each was one more while the touched read inferred its schema in a job.
  test("TxLog's partition-scoped merge stays within its job budget") {
    val t = tmp("budget_txmerge")
    TxLog.append(spark.range(1, 41).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"), (col("id") % 4).as("p")), t, Some("p"))
    val merge = jobsIn {
      TxLog.applyChanges(spark, t,
        deletes = spark.range(1, 3).select(col("id").as("k"), (col("id") % 4).as("p")),
        upserts = spark.range(3, 5).select(col("id").as("k"), lit("w").as("v"),
          (col("id") % 4).as("p")),
        key = "k", partitionCol = "p"): Unit
    }
    val upsert = jobsIn {
      TxLog.upsert(spark, t, spark.range(50, 52).select(col("id").as("k"),
        lit("n").as("v"), (col("id") % 4).as("p")), "k", Some("p")): Unit
    }
    assert(merge <= 8 && upsert <= 7, s"merge=$merge upsert=$upsert")
    assert(TxLog.read(spark, t).count() === 40L)
  }

  // TxLog.read as the commit log read it before its footer reads moved to
  // the driver: one inferred scan per commit dir (plain files in one scan).
  private def inferredRead(t: String): DataFrame = {
    val (parted, plain) = TxLog.snapshot(spark, t).entries.partition(_.partition.isDefined)
    val scans = (if (plain.isEmpty) Nil else Seq(spark.read.parquet(plain.map(_.path): _*))) ++
      parted.groupBy(e => new org.apache.hadoop.fs.Path(e.path).getParent.getParent.toString)
        .toSeq.sortBy(_._1).map { case (base, es) =>
          spark.read.option("basePath", base).parquet(es.map(_.path): _*)
        }
    scans.reduce(_ unionByName _)
  }

  test("TxLog.read builds with no job, to the inferred read's schema and rows") {
    val plain = tmp("budget_txread_plain")
    TxLog.append(sample, plain)
    TxLog.append(sample.withColumn("id", col("id") + 10), plain)
    val parted = tmp("budget_txread_parted")
    TxLog.append(sample.withColumn("p", col("id") % 2), parted, Some("p"))
    TxLog.append(sample.withColumn("id", col("id") + 10).withColumn("p", lit(7L)),
      parted, Some("p"))
    for (t <- Seq(plain, parted)) {
      assert(TxLog.snapshot(spark, t).entries
        .map(_.path.split("/data/")(1).takeWhile(_ != '/')).distinct.size >= 2,
        s"$t needs two live commit dirs")
      var df: DataFrame = null
      assert(jobsIn { df = TxLog.read(spark, t) } == 0, t)
      val inferred = inferredRead(t)
      assert(df.schema == inferred.schema, t)
      assert(df.collect().toSet == inferred.collect().toSet, t)
    }
  }

  // The unpartitioned merge into a 200-row table, a 20-row batch. Measured:
  // 2 jobs each. The delete-then-rename file swap it replaced took 3, one
  // of them its read's schema inference.
  test("TxLog's unpartitioned upsert stays within the file swap's job budget") {
    val t = tmp("budget_txupsert")
    TxLog.append(spark.range(200).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")), t)
    val computed = jobsIn {
      TxLog.upsert(spark, t, spark.range(190, 210).select(col("id").as("k"),
        lit("c").as("v")), "k"): Unit
    }
    val literal = jobsIn {
      TxLog.upsert(spark, t, (300L until 320L).map(k => (k, "l")).toDF("k", "v"), "k"): Unit
    }
    assert(computed <= 2 && literal <= 2, s"computed=$computed literal=$literal")
    assert(TxLog.read(spark, t).count() === 230L)
  }

  // Small dimension: 40 keys bootstrapped with one history row each for
  // every fifth key, then a day with 10 changed, 5 new and (full snapshot)
  // 5 deleted keys. `read` builds `existing` from the written dimension.
  private def mergeJobs(full: Boolean,
      read: String => DataFrame = Sources.parquet(spark, _)): (Int, Set[Row]) = {
    val path = tmp(s"budget_dim_$full")
    val base = (1L to 40L).map(k => (k, s"n$k", s"t${k % 3}")).toDF("id", "name", "tier")
    val current = Scd2.bootstrap(base, "id", "sk", "2021-01-01 00:00:00")
    val history = current.filter(col("id") % 5 === 0)
      .withColumn("sk", col("sk") + 100)
      .withColumn("start_dt", lit("2020-01-01 00:00:00").cast("timestamp"))
      .withColumn("end_dt", lit("2021-01-01 00:00:00").cast("timestamp"))
      .withColumn("is_valid", lit(false))
    current.unionByName(history).write.parquet(path)
    val incoming = (6L to 45L).map(k => (k, s"n$k", if (k <= 15) "changed" else s"t${k % 3}"))
      .toDF("id", "name", "tier")
    val out = tmp(s"budget_out_$full")
    val jobs = jobsIn {
      val existing = read(path)
      val merge = if (full) Scd2.mergeFullSnapshot _ else Scd2.merge _
      merge(existing, incoming, "id", Seq("name", "tier"), "sk", "2022-01-01 00:00:00",
        "2099-12-31 00:00:00", Keys.surrogateKeysScalable(_, _, _, _))
        .write.parquet(out)
    }
    (jobs, spark.read.parquet(out).collect().toSet)
  }

  // Catalyst's constraint propagation doubles its constraint set for every
  // column aliased next to an alias of an expression over that column (the
  // row hash over the SCD columns), so a merge that renames or packs its
  // SCD columns takes exponential planning time in their number.
  test("planning an SCD2 merge over 20 SCD columns stays fast") {
    val scd = (0 until 20).map(i => s"c$i")
    val rows = spark.range(50).select(col("id") +: scd.map(c => (col("id") % 7).as(c)): _*)
    val existing = Scd2.bootstrap(rows, "id", "sk", "2021-01-01 00:00:00")
    val incoming = rows.withColumn("c0", col("c0") + 1)
    Seq(Scd2.merge _, Scd2.mergeFullSnapshot _).foreach { merge =>
      val out = merge(existing, incoming, "id", scd, "sk", "2022-01-01 00:00:00",
        "2099-12-31 00:00:00", Keys.surrogateKeysScalable(_, _, _, _))
      val t0 = System.nanoTime()
      out.queryExecution.optimizedPlan
      assert((System.nanoTime() - t0) / 1e9 < 10.0)
    }
  }

  // Measured: 2 jobs in either mode: the classify shuffle, run once for
  // both of its consumers (the current and the keyed fresh rows), and the
  // result stage; the watermark comes from the parquet footers. It was 4
  // while the watermark took a job and each consumer pruned the pass to its
  // own columns, so the two exchanges differed and the shuffle ran twice.
  test("writing an SCD2 merge of a small dimension stays within its job budget") {
    for (full <- Seq(false, true)) {
      val (jobs, _) = mergeJobs(full)
      assert(jobs <= 2, s"full=$full jobs=$jobs")
    }
  }

  // An `existing` that is not a bare scan (here filtered, or with a
  // computed key column) takes the one-job watermark: measured 3 jobs.
  test("an SCD2 merge of a filtered or computed dimension takes the job watermark") {
    val reads = Seq[String => DataFrame](
      Sources.parquet(spark, _).filter(col("sk") > 0),
      Sources.parquet(spark, _).withColumn("sk", col("sk") + 0))
    for (full <- Seq(false, true); read <- reads) {
      val (jobs, rows) = mergeJobs(full, read)
      assert(jobs <= 3, s"full=$full jobs=$jobs")
      assert(rows == mergeJobs(full)._2, s"full=$full")
    }
  }

  // Measured: 12 jobs for one incremental pair-maintenance step over
  // persisted version-A artifacts. It was 16 while the operator
  // localCheckpointed its fresh shingles and signatures, its candidate
  // pairs and its pruned shingle slice, each a job of its own.
  test("one incremental near-dup pair step stays within its job budget") {
    val fixture = graft.ext.IncrementalPairsFixture(spark, sf0001)
    var n = 0
    val jobs = jobsIn { n = fixture.pairs.collect().length }
    assert(n > 0 && jobs <= 12, s"jobs=$jobs")
  }

  // The ANN path on the embeddings fixture (derived cells, 4 partitions):
  // the index build and its three writes, one ADC probe batch against the
  // read-back index, and the beam walk over a read-back mutual-kNN graph.
  // Measured: 13 jobs for the build and writes (17 while the writes
  // re-derived centroids and codebooks), 7 for the ADC batch (9 while the
  // cell pick ran twice), 7/10/13 for the walk at 1/2/3 hops (10/14/18
  // while each hop broadcast its frontier twice and ran its own distinct).
  private lazy val annDir = Files.createTempDirectory("budget_ann").toString
  private lazy val annCells = {
    val e = graft.Tables.embeddings(spark, sf0001)
    IvfPq.withDerivedCells(e, "embedding", IvfPq.derivedPlanes(e.count()))
  }
  private def annProbes = Similarity.hashOrderedProbes(
    graft.Tables.embeddings(spark, sf0001), "vec_id", "probe", 16)

  test("building the IVF-PQ index and writing its three parts stays within its job budget") {
    val cells = annCells
    val jobs = jobsIn {
      val ix = IvfPq.buildIndex(cells, "vec_id", "embedding", "cell")
      for ((part, df) <- Seq("cents" -> ix.cents, "cw" -> ix.cw, "codes" -> ix.codes))
        Sinks.writeParquet(df, s"$annDir/$part")
    }
    assert(jobs <= 13, s"build=$jobs")
  }

  test("an ADC probe batch against a read-back index stays within its job budget") {
    val ix = IvfPq.buildIndex(annCells, "vec_id", "embedding", "cell")
    for ((part, df) <- Seq("cents" -> ix.cents, "cw" -> ix.cw, "codes" -> ix.codes))
      Sinks.writeParquet(df, s"$annDir/adc_$part")
    val back = IvfPq.Index(Sources.parquet(spark, s"$annDir/adc_cents"),
      Sources.parquet(spark, s"$annDir/adc_cw"), Sources.parquet(spark, s"$annDir/adc_codes"))
    val q = annProbes.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    var n = 0L
    val jobs = jobsIn { n = IvfPq.adcShortlist(back, q, nprobe = 4, shortlist = 10).collect().length }
    assert(n > 0 && jobs <= 7, s"adc=$jobs")
  }

  test("the beam walk stays within its job budget at one hop and per extra hop") {
    Sinks.writeParquet(
      Similarity.mutualKnnGraph(annCells, "vec_id", "embedding", "cell", k = 5), s"$annDir/edges")
    val edges = Sources.parquet(spark, s"$annDir/edges")
    val entries = Similarity.topDegreeNodes(edges, 8)
    val corpus = graft.Tables.embeddings(spark, sf0001)
    val jobs = (1 to 3).map { h =>
      jobsIn {
        Similarity.graphBeamSearch(corpus, edges, annProbes, "vec_id", "embedding", entries,
          hops = h, beam = 8, k = 5).collect(): Unit
      }
    }
    assert(jobs.head <= 7 && jobs.sliding(2).forall { case Seq(a, b) => b - a <= 3 },
      s"walk jobs at hops 1..3: $jobs")
  }
}
