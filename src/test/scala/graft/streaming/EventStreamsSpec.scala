package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.streaming.EventStreams.{Event, Session}

/** Drives the streaming operators end-to-end on MemoryStream micro-batches:
  * watermark-finalized window emission and stateful session open/extend/
  * close/flush transitions.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("hourlyRollupStream finalizes a window once the watermark passes it") {
    val in = MemoryStream[Event](spark)
    val q = EventStreams.hourlyRollupStream(in.toDF(), watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("rollup").outputMode("append").start()
    try {
      in.addData(
        Event(1L, ts(0), 100L, "click", 1.0),
        Event(2L, ts(10), 101L, "click", 2.0),
        Event(3L, ts(20), 100L, "view", 5.0))
      q.processAllAvailable()
      // watermark still inside hour 10 -> nothing finalized yet
      assert(spark.table("rollup").count() === 0)

      // an event at 12:00 pushes the watermark past 10:59 + 30min
      in.addData(Event(4L, ts(120), 102L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("rollup")
        .select("bucket", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0),
        (Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionizeStream closes a session on gap and flushes idle state on watermark") {
    val in = MemoryStream[Event](spark)
    val q = EventStreams.sessionizeStream(in.toDS(), gapSeconds = 600L,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 7: two events 5 min apart (one session), then 20 min idle -> gap
      in.addData(
        Event(1L, ts(0), 7L, "click", 1.0),
        Event(2L, ts(5), 7L, "click", 2.0))
      q.processAllAvailable()
      in.addData(Event(3L, ts(25), 7L, "view", 4.0))
      q.processAllAvailable()
      // the gap event closes session 1 immediately (emitted inline)
      val closed = spark.table("sessions").as[Session].collect()
      assert(closed.map(s => (s.user_id, s.n_events, s.sum_value)).toSet ===
        Set((7L, 2L, 3.0)))
      assert(closed.head.session_start === ts(0))
      assert(closed.head.session_end === ts(5))

      // advance the watermark far past the open session -> timeout flush
      in.addData(Event(9L, ts(240), 999L, "click", 0.0))
      q.processAllAvailable()
      in.addData(Event(10L, ts(300), 999L, "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("sessions").as[Session].collect()
      assert(all.exists(s => s.user_id == 7L && s.n_events == 1L && s.sum_value == 4.0),
        s"expected the idle session flushed, got ${all.mkString(", ")}")
    } finally q.stop()
  }

  test("dedupStream suppresses re-delivered events within the watermark") {
    val in = MemoryStream[Event](spark)
    val q = EventStreams.dedupStream(in.toDF(), Seq("event_id"), "30 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(
        Event(1L, ts(0), 7L, "click", 1.0),
        Event(1L, ts(0), 7L, "click", 1.0), // same-batch duplicate
        Event(2L, ts(1), 8L, "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(1L, ts(2), 7L, "click", 1.0)) // re-delivery, in window
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("dedupContentStream suppresses same-body docs even under new ids") {
    val in = MemoryStream[StreamedDoc](spark)
    val q = EventStreams.dedupContentStream(in.toDF(), "text", "ts", "30 minutes")
      .writeStream.format("memory").queryName("cdedup").outputMode("append").start()
    try {
      in.addData(
        StreamedDoc(1L, ts(0), "alpha beta gamma"),
        StreamedDoc(2L, ts(1), "  Alpha   BETA gamma "), // same normalized body, new id
        StreamedDoc(3L, ts(1), "different body"))
      q.processAllAvailable()
      in.addData(StreamedDoc(4L, ts(5), "alpha beta gamma")) // re-crawl in window
      q.processAllAvailable()
      val ids = spark.table("cdedup").select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 3L), s"got $ids")
      assert(spark.table("cdedup").columns.toSeq === Seq("doc_id", "ts", "text"),
        "fingerprint helper column must not leak into output")
    } finally q.stop()
  }

  test("enrichStream joins each micro-batch against the static dimension") {
    import org.apache.spark.sql.functions.col
    val dim = Seq(("click", 1), ("view", 2)).toDF("event_type", "type_id")
    val in = MemoryStream[Event](spark)
    val q = EventStreams.enrichStream(in.toDF(), dim, "event_type")
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      in.addData(
        Event(1L, ts(0), 7L, "click", 1.0),
        Event(2L, ts(1), 8L, "view", 2.0),
        Event(3L, ts(2), 9L, "error", 3.0)) // no dim row -> dropped (inner)
      q.processAllAvailable()
      val got = spark.table("enrich").select("event_id", "type_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got === Set((1L, 1), (2L, 2)))
      assert(spark.table("enrich").filter(col("event_id") === 3L).count() === 0)
    } finally q.stop()
  }

  test("startUpsertSink lands re-emitted keys idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val in = MemoryStream[Event](spark)
    // running count per user — update mode re-emits a user's row each batch
    val counts = in.toDF().groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = EventStreams.startUpsertSink(counts, s"$dir/out", s"$dir/ckpt", "user_id")
    try {
      in.addData(Event(1L, ts(0), 7L, "click", 1.0), Event(2L, ts(1), 8L, "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(3L, ts(2), 7L, "click", 1.0)) // user 7 again -> n=2
      q.processAllAvailable()
      val out = graft.engine.TxLog.read(spark, s"$dir/out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out === Map(7L -> 2L, 8L -> 1L), s"got $out")
    } finally q.stop()
  }

  test("startUpsertSink partition-scoped: merges per key, leaves untouched partitions' files alone") {
    import org.apache.spark.sql.functions.{count, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_ps").toString
    val in = MemoryStream[Event](spark)
    // per-(event_type, user) counts, partitioned by event_type — a key's
    // partition value is final, the partition-scoped contract
    val counts = in.toDF().groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
    val q = EventStreams.startUpsertSink(
      counts, s"$dir/out", s"$dir/ckpt", "user_id", partitionCol = Some("event_type"))
    try {
      in.addData(Event(1L, ts(0), 7L, "click", 1.0), Event(2L, ts(1), 8L, "view", 2.0))
      q.processAllAvailable()
      // the view partition's live manifest entries, with each file's mtime
      def files(p: String): Set[(String, Long)] =
        graft.engine.TxLog.snapshot(spark, s"$dir/out").entries
          .filter(_.partition.contains(s"event_type=$p"))
          .map(e => e.path -> new java.io.File(
            new org.apache.hadoop.fs.Path(e.path).toUri.getPath).lastModified())
          .toSet
      val viewBefore = files("view")
      assert(viewBefore.nonEmpty)
      in.addData(Event(3L, ts(2), 7L, "click", 1.0)) // only the click partition re-emits
      q.processAllAvailable()
      assert(files("view") === viewBefore,
        "a batch touching only event_type=click must not rewrite event_type=view")
      val out = graft.engine.TxLog.read(spark, s"$dir/out")
        .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")) ->
          r.getAs[Long]("n")).toMap
      assert(out === Map(("click", 7L) -> 2L, ("view", 8L) -> 1L), s"got $out")
    } finally q.stop()
  }

  test("intervalJoinStream matches only in-lookback same-user pairs") {
    val clicks = MemoryStream[Event](spark)
    val buys = MemoryStream[Event](spark)
    val q = EventStreams.intervalJoinStream(
        clicks.toDF(), buys.toDF(),
        lookbackSeconds = 1800L, watermarkDelay = "10 minutes")
      .select("event_id", "r_event_id")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      buys.addData(
        Event(10L, ts(0), 100L, "purchase", 5.0),   // 10:00 — inside lookback
        Event(11L, ts(0), 999L, "purchase", 5.0))   // other user: no match
      clicks.addData(
        Event(1L, ts(20), 100L, "click", 1.0),      // 10:20 — sees buy 10
        Event(2L, ts(40), 100L, "click", 1.0))      // 10:40 — 40min gap: outside
      // advance both watermarks so the joinable region is finalized
      buys.addData(Event(12L, ts(120), 500L, "purchase", 1.0))
      clicks.addData(Event(3L, ts(120), 500L, "click", 1.0))
      q.processAllAvailable()
      val pairs = spark.table("ivj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 10L)), s"in-window pair missing from $pairs")
      assert(!pairs.contains((2L, 10L)), "outside-lookback pair must not match")
      assert(!pairs.exists(_._2 == 11L), "cross-user pair must not match")
    } finally q.stop()
  }

  test("streaming parquet source + sink round-trip (readStream -> writeStream)") {
    val out = "/tmp/graft_scratch/stream_sink"
    val ckpt = "/tmp/graft_scratch/stream_ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(out)); rm(new java.io.File(ckpt))
    val src = EventStreams.streamingEvents(spark, sf0001)
    assert(src.isStreaming)
    val q = EventStreams.startParquetSink(
      src.select("event_id", "ts", "user_id", "event_type", "value"), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val n = spark.read.parquet(out).count()
    assert(n === graft.Tables.events(spark, sf0001).count())
  }

  test("ANN serve stream answers the batch coordinator exactly; batch replay is idempotent") {
    // The serving-path contract (q507's substrate): micro-batched queries
    // against the persisted index must answer EXACTLY what one batch call
    // answers, and a checkpoint-replayed batch must land in place (its
    // batch_id directory rewritten, total row count unchanged) — the
    // exactly-once story of the batch_id-partitioned dynamic overwrite.
    import org.apache.spark.sql.functions._
    val base = "/tmp/graft_scratch/ann_serve_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    val out = s"$base/log"; val ckpt = s"$base/ckpt"; val src = s"$base/src"
    val ix = graft.queries.SharedFrames.ivfPqIndex(spark, sf0001)
    val probes = graft.ext.Similarity.hashOrderedProbes(
        graft.Tables.embeddings(spark, sf0001), "vec_id", "ivfpq", 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batchAnswers = graft.ext.IvfPq.adcShortlist(ix, probes, nprobe = 2, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    probes.repartition(2).write.parquet(src)
    val arrivals = spark.readStream.schema(probes.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = EventStreams.startAnnServe(
      arrivals, ix, "query_id", "qv", out, ckpt, nprobe = 2, shortlist = 10)
    q.awaitTermination()
    val served = spark.read.parquet(out)
    assert(served.select("batch_id").distinct().count() === 2L,
      "expected one log partition per micro-batch")
    val servedSet = served.select("query_id", "neighbor_id", "adc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(servedSet === batchAnswers,
      "streamed serving must answer exactly the batch coordinator's shortlist")
    // replay batch 0's write verbatim (what a checkpoint recovery does):
    // the batch_id=0 directory is rewritten, nothing duplicates. The
    // replay frame is materialized driver-side first — a lazy frame over
    // the log would be a read-from-overwrite-target plan, which a real
    // replay (recomputing from the source batch) never has.
    val before = served.count()
    val replayRows = served.filter(col("batch_id") === 0L).collect().toSeq
    graft.engine.Sinks.overwritePartitionsDynamic(
      spark.createDataFrame(
        spark.sparkContext.parallelize(replayRows, 1), served.schema),
      out, Seq("batch_id"))
    assert(spark.read.parquet(out).count() === before,
      "a replayed batch must overwrite its own partition, not append")
  }

  test("startAnnServe fails loudly on a batch over batchCap — never truncates") {
    // ADVICE_r11: a LIMIT alone silently dropped arrivals over the cap from
    // the serving log. The contract is answer-everything-or-fail: an
    // oversized micro-batch must kill the query with an actionable error.
    import org.apache.spark.sql.functions._
    val base = "/tmp/graft_scratch/ann_serve_cap_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    val out = s"$base/log"; val ckpt = s"$base/ckpt"; val src = s"$base/src"
    val ix = graft.queries.SharedFrames.ivfPqIndex(spark, sf0001)
    val probes = graft.ext.Similarity.hashOrderedProbes(
        graft.Tables.embeddings(spark, sf0001), "vec_id", "ivfpq", 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    probes.coalesce(1).write.parquet(src) // one file -> one 6-row batch
    val arrivals = spark.readStream.schema(probes.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = EventStreams.startAnnServe(
      arrivals, ix, "query_id", "qv", out, ckpt,
      nprobe = 2, shortlist = 10, batchCap = 4)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("batchCap")),
      s"expected the batchCap contract failure, got: ${messages(e).mkString(" | ")}")
  }

  test("checkpoint restart resumes exactly-once: old files skipped, new file processed") {
    // The recovery contract a 100 TB landing zone depends on: a stopped
    // query restarted against the SAME checkpoint must process only files
    // that arrived while it was down — no reprocessing (the file-source log
    // remembers batch 1), no loss, no duplicates in the sink.
    import org.apache.spark.sql.functions._
    val base = "/tmp/graft_scratch/restart_spec"
    val srcDir = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    new java.io.File(srcDir).mkdirs()
    // land each batch as ONE flat file (the file-stream source lists the
    // directory's files, it does not recurse into per-batch subdirs)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(s"$srcDir/$name.parquet")))
    }
    land(spark.range(1, 101).select(col("id")), "batch1")
    val schema = spark.read.parquet(s"$srcDir/batch1.parquet").schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() === 100L)
    land(spark.range(101, 151).select(col("id")), "batch2")
    run()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 150, s"expected exactly-once union, got ${ids.length} rows")
    assert(ids.toSeq === (1L to 150L), "restart must add only the new file's rows")
  }
}

/** Top-level so MemoryStream gets a clean product encoder (no outer capture). */
case class StreamedDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)
