package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event analytics
  * (graft.engine.Events): `readStream` -> watermarked transforms ->
  * `writeStream`, per the build brief's streaming design principles. The
  * reference has no streams (SURVEY.md section 2.10), so these extend the
  * engine's surface the Spark-idiomatic way instead of porting anything.
  *
  * Scale notes: both operators keep state partitioned by their grouping key
  * (window x type, or user) in the state store — no driver state, no global
  * ordering. Watermarks bound state size: late events beyond the watermark
  * are dropped instead of growing state forever, which is what makes the
  * 100 TB/continuous-ingest deployment viable.
  */
object EventStreams {

  /** State-store partition count for the drained (Trigger.AvailableNow)
    * streaming gates — SCALE-ADAPTIVE, not the batch shuffle-partition
    * count. A stateful micro-batch pays a FIXED per-partition cost per
    * operator per trigger (state store open + delta write + commit — a
    * stream-stream join holds FOUR stores per partition), so partitions
    * must be sized to STATE VOLUME, not to the host's core count
    * (optimization guide §2.2: fewer, larger partitions; measured here:
    * the interval-join gate at 32 state partitions spends ~6s/task
    * blocked on state-store commits with <2% CPU — 8 partitions run the
    * same rows 3x faster on a quarter of the cores). The gates' state is
    * KB-scale; a 100 TB deployment sizes this up via
    * SPARK_GRAFT_STREAM_PARTITIONS (or keeps its own checkpoint, which
    * pins the count at first run). Results are partition-invariant: every
    * gated stream emits keyed rows / exact-decimal aggregates whose
    * content does not depend on hash placement (the same invariance the
    * batch registry relies on), so this only reshapes the physical plan.
    */
  def statePartitions(s: SparkSession): Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").map(_.toInt).getOrElse(
      math.min(s.sessionState.conf.numShufflePartitions, 8))

  /** Run a drain-and-terminate streaming gate under [[statePartitions]]:
    * sets the session's shuffle-partition conf for the stream's lifetime
    * (a NEW checkpoint freezes its state partitioning from this value at
    * start) and restores it afterwards. Gates run sequentially under
    * Bench/Verify, so the temporary session-conf scope cannot race
    * another query.
    */
  def runDrained(s: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, statePartitions(s).toString)
    try start.awaitTermination() finally s.conf.set(key, prev)
  }

  /** One event row, as produced by `streamingEvents` / MemoryStream tests. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** A closed (or flushed) user session emitted by `sessionizeStream`. */
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  /** File-based streaming source over the same parquet layout the batch
    * engine reads — `spark.readStream` against a directory treats new files
    * as stream arrivals (the standard bronze-landing-zone pattern).
    */
  def streamingEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.engine.Sources.parquet(spark, s"$dir/events.parquet").schema
    // file-stream sources take a DIRECTORY; glob-filter to the events table
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Streaming tumbling-window rollup: the streaming twin of
    * Events.hourlyRollup. The watermark lets Spark finalize and emit a
    * window once event time passes its end + delay, and discard its state.
    * (countDistinct is not supported in streaming aggregations —
    * approx_count_distinct is the streaming-idiomatic stand-in.)
    */
  def hourlyRollupStream(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("approx_users"), col("sum_value"))

  /** Gap-based streaming sessionization via flatMapGroupsWithState — the
    * streaming twin of Events.sessionize. State per user holds the open
    * session; an event within `gapSeconds` extends it, otherwise the closed
    * session is emitted and a fresh one opens. Event-time timeout flushes
    * idle sessions once the watermark passes the gap, bounding state.
    */
  def sessionizeStream(events: Dataset[Event], gapSeconds: Long = 1800L,
      watermarkDelay: String = "2 hours"): Dataset[Session] = {
    import events.sparkSession.implicits._

    // micros <-> java.sql.Timestamp without dropping sub-millisecond
    // precision: getTime() is millis-only (sub-ms lives in getNanos), and
    // new Timestamp(millis) zeroes the nanos field — both would silently
    // truncate event times to the millisecond.
    def tsMicros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def microsTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    def toSession(uid: Long, s: SessionState): Session =
      Session(uid, microsTs(s.start), microsTs(s.end), s.n, s.total)

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed: flush the idle open session
            val out = state.getOption.map(toSession(uid, _))
            state.remove()
            out.iterator
          } else {
            val gapMicros = gapSeconds * 1000000L
            // state ops must happen outside the iterator's laziness
            val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapMicros =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1,
                    s.total + e.value))
                case Some(s) =>
                  closed += toSession(uid, s)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end / 1000 + gapSeconds * 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop events whose key was already seen, with
    * state bounded by the watermark (`dropDuplicatesWithinWatermark` —
    * duplicates arriving within the delay window are suppressed, state for
    * keys older than the watermark is evicted). The streaming-ingest twin of
    * the batch fingerprint dedup: at-least-once sources re-deliver, this
    * makes the landing zone effectively-once without unbounded state.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming CONTENT dedup: the streaming-ingest twin of the batch
    * exact-dedup-by-fingerprint pass (ext.TextAnalysis.fingerprint). Keys the
    * watermark-bounded dedup state on the md5 of the normalized text instead
    * of a delivery id, so re-crawled / re-delivered copies of the same
    * document body are suppressed even when their ids differ — the
    * first-line dedup of a streaming training-data ingest. State is one
    * 32-hex key per distinct document inside the watermark window; older
    * state is evicted, which is the only shape that holds on an unbounded
    * corpus stream.
    */
  def dedupContentStream(docs: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("__content_fp", graft.ext.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__content_fp"))
      .drop("__content_fp")

  /** Watermarked stream-stream interval join: enrich one event stream with
    * the other stream's rows for the same user within a bounded event-time
    * lookback (r.ts in [l.ts - window, l.ts]). Both sides carry watermarks
    * and the condition bounds time in BOTH directions — that is what lets
    * Spark evict buffered join state once the watermark passes the
    * interval; an unbounded condition would buffer each side forever (and
    * is rejected in append mode). This is the streaming analog of
    * engine.AsOfJoin/RangeJoin restricted to a finite lookback — an
    * unbounded as-of can never be finalized on an infinite stream.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      lookbackSeconds: Long = 3600L,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") <= col("ts") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $lookbackSeconds SECONDS"))
  }

  /** Stream-static enrichment: join the event stream against a bounded
    * dimension with an explicit broadcast hint — the silver-layer pattern
    * (no state, no watermark needed; the static side is re-planned per
    * micro-batch, so a refreshed dimension file is picked up between
    * batches). `how` = "inner" or "left_outer" (both stream-static-legal).
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String,
      how: String = "inner"): DataFrame =
    events.join(broadcast(dim), Seq(key), how)

  /** Standard sink wiring: append-mode parquet with checkpointing — the
    * writeStream half of the contract. Returns the started query; callers
    * own awaitTermination/stop.
    */
  def startParquetSink(df: DataFrame, outDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming ANN ingest — the index lifecycle's last leg (round 9;
    * composes the ST1 file source, IvfPq's frozen-index assignment and the
    * keyed-upsert sink): each micro-batch of ARRIVING vectors is
    * residual-encoded against the FROZEN index — `cents`/`cw` are the
    * broadcast centroid/codebook artifacts; no retrain on the hot path,
    * the production ingest contract (q499 prices the staleness this
    * accrues) — and upserted into the parquet code table by vector id, so
    * checkpoint-replayed batches land idempotently. The code table is a
    * CELL-PARTITIONED commit-log table (the same inverted-list layout the
    * search coordinator prunes on, SharedFrames.ivfPqIndex; read it with
    * `TxLog.read`) and the upsert is the log's partition-scoped
    * [[graft.engine.TxLog.upsert]]: a micro-batch touching k cells reads
    * and rewrites only those k cells' files — never the whole table, which
    * at 100 TB would be a full-table rewrite per trigger.
    * AvailableNow trigger: the ingest drains whatever arrivals are staged
    * and terminates (callers awaitTermination); a continuous deployment
    * would swap the trigger, nothing else.
    */
  def startVectorIngest(vecs: DataFrame, cents: DataFrame, cw: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      outDir: String, checkpointDir: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // partition col is "cell": IvfPq.assignCodes pins its output shape
        // to (id, cell, m, g) whatever the input column names were
        graft.engine.TxLog.upsert(batch.sparkSession, outDir,
          graft.ext.IvfPq.assignCodes(
            graft.ext.IvfPq.residualParts(batch, cents, idCol, vecCol, cellCol),
            cw),
          "id", Some("cell")): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming ANN SERVING — the lifecycle leg q501 (ingest) and q504
    * (rebuild) leave implicit: queries arriving on a stream are ANSWERED
    * per micro-batch against the PERSISTED index artifact, and the answers
    * land in an append-style serving log. Each batch rides the batch
    * search coordinator ([[graft.ext.IvfPq.adcShortlist]]) unchanged —
    * nprobe nearest cells per query, ADC over the probed cells' codes only
    * (the static partition filter reads just those cell directories of the
    * cell-partitioned artifact), so a batch touching k cells scans k
    * inverted lists, never the corpus. The micro-batch frame carries no
    * row bound, and the coordinator's bounded-probe contract is enforced
    * at plan time — `LIMIT batchCap+1` makes the bound visible to the plan
    * — while the cap CHECK rides the serve job itself as an `observe()`
    * metric counting arrivals below the limit (VERDICT_r12 next #7: the
    * previous persist+count was a second decode of every arrival file per
    * trigger; one job per batch now does serve + both audits). The +1 head
    * lets the metric SEE the first over-cap row, so a batch larger than
    * the cap still FAILS the streaming query instead of silently
    * truncating (ADVICE_r11; the caller's fix is a smaller trigger —
    * maxFilesPerTrigger / maxOffsetsPerTrigger — or a larger cap, sized
    * under Similarity.MaxBoundedProbeRows).
    *
    * Exactly-once without a keyed merge: answers are staged to a per-call
    * sibling directory and PUBLISHED into the log as `batch_id=N` by one
    * filesystem rename AFTER the cap check passes — a failing batch never
    * reaches the log (delete staging, die loudly), and a checkpoint-
    * replayed batch replaces its own directory in place, leaving other
    * batches' files untouched (the same partition-layout the dynamic
    * overwrite produced, at zero publish-job cost; partition discovery
    * reconstructs batch_id from the directory name exactly as before).
    * AvailableNow trigger, as the other lifecycle sinks: drain staged
    * arrivals and terminate; a continuous deployment swaps the trigger
    * only.
    */
  def startAnnServe(queries: DataFrame, ix: graft.ext.IvfPq.Index,
      idCol: String, vecCol: String,
      outDir: String, checkpointDir: String,
      nprobe: Int, shortlist: Int, batchCap: Int = 1024):
      org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val obs = org.apache.spark.sql.Observation(
          s"graft_serve_${batchId}_${java.util.UUID.randomUUID()}")
        // the observe node sits UNDER the limit: rows the limit pulls flow
        // through it, so arrivals ≤ cap count exactly and an over-cap batch
        // counts at least cap+1 — enough to fire the contract. The metric
        // resolves at the FIRST action over this plan — which is
        // adcShortlist's eager probed-cells collect (documented as
        // load-bearing at its site, ADVICE_r13), not the staged write
        // below; both actions evaluate the limit subtree fully, so the
        // count is exact either way
        val probes = batch
          .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
          .observe(obs, count(lit(1)).as("arrived"))
          .limit(batchCap + 1)
        import org.apache.hadoop.fs.Path
        val staging = new Path(
          graft.engine.Sinks.stagingDir(outDir, "serve", spark))
        val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        try {
          graft.ext.IvfPq.adcShortlist(ix, probes, nprobe, shortlist)
            .write.mode("overwrite").parquet(staging.toString)
          val arrived = obs.get("arrived").asInstanceOf[Long]
          require(arrived <= batchCap,
            s"startAnnServe: micro-batch $batchId carries $arrived" +
              s"${if (arrived > batchCap) "+" else ""} queries, " +
              s"over batchCap=$batchCap — shrink the trigger " +
              "(maxFilesPerTrigger/maxOffsetsPerTrigger) or raise the cap; " +
              "serving must answer every arrival, never silently truncate")
          if (arrived > 0L) {
            val dest = new Path(outDir, s"batch_id=$batchId")
            fs.mkdirs(dest.getParent)
            fs.delete(dest, true)
            require(fs.rename(staging, dest),
              s"startAnnServe: publish rename failed for batch $batchId " +
                s"($staging -> $dest)")
            spark.catalog.refreshByPath(outDir)
          } else fs.delete(staging, true): Unit
        } catch { case e: Throwable => fs.delete(staging, true); throw e }
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Keyed-upsert sink via foreachBatch (update output mode): each
    * micro-batch commits [[graft.engine.TxLog.upsert]] into the commit-log
    * table `outDir` (read it with `TxLog.read`), so its rows replace
    * same-key rows and state-store re-emissions and replayed batches land
    * idempotently — the exactly-once-per-key pattern for aggregation
    * streams writing to a lake table. `partitionCol` selects the merge
    * scope: a column makes the upsert PARTITION-SCOPED (only the
    * partitions the batch touches are read and rewritten, the 100 TB
    * contract; requires each key's partition value to be final, e.g. a
    * window-start date column); None merges the whole table per batch, for
    * small bounded-key aggregate tables where partitions would cost more
    * than they save.
    */
  def startUpsertSink(df: DataFrame, outDir: String, checkpointDir: String,
      key: String, partitionCol: Option[String] = None):
      org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.engine.TxLog.upsert(batch.sparkSession, outDir, batch, key,
          partitionCol): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .start()
}

/** Open-session state for EventStreams.sessionizeStream — top level because
  * the state-store encoder's generated code instantiates it by name.
  */
case class SessionState(start: Long, end: Long, n: Long, total: Double)
