package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract). Measures full materialization of every
  * registered query via a noop-format write — `.count()` would let Catalyst
  * prune projection-only work (window columns, cleaning expressions) and
  * under-measure. One warm-up query absorbs session/codegen startup so the
  * first measured entry isn't inflated.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // Warm-up: JIT/codegen/session init on a real query, unmeasured.
    try materialize("q01_pricing_summary") catch { case _: Throwable => () }
    // Cross-round drift calibration (VERDICT r7 #7): a fixed CONSTANT-WORK,
    // no-IO workload timed with the same min-of-2 discipline. Same-plan
    // bench totals drifted +8.7% between rounds 6 and 7 — plausibly CPU
    // steal on this shared VM, but unprovable without a workload whose cost
    // cannot change with the code under test. 64M xxhash64+sum over an
    // in-memory range is pure codegen CPU: divide any cross-round total
    // ratio by the calibration ratio to normalize out the box.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // & 0xFFFFFFFF: full-range hash longs overflow the ANSI sum at 64M rows
      spark.range(0, 64000000L, 1, 32)
        .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFFFFFL))).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Min over 2 INTERLEAVED full passes: this box is a shared VM and
    // CPU-steal windows randomly inflate single-shot wall-clock by 10x+
    // (observed: the same query at 2.5s and 50s across consecutive runs,
    // plan unchanged; BENCH_r02 caught a multi-minute window that inflated
    // back-to-back runs of the SAME query 4x). Interleaving puts each
    // query's timed runs a whole pass apart, so a steal window shorter than
    // a pass can inflate at most one of them; the min is the reproducible
    // cost of the plan. A query that throws in either pass is not timed: it
    // is listed under `failed`, out of the total, and the run exits non-zero.
    //
    // Calibration samples SPREAD across both passes. BOTH the median and
    // the min ship (ADVICE_r11): the median tracks the speed the run
    // actually experienced (min is biased low — one sample catching an
    // unusually fast window divides the whole total by the box's best
    // instant; observed round 11: min-sampled 0.213 vs typical ~0.26 swung
    // value_normalized 426 -> 510 on code that only got faster), but the
    // PINNED round-8 reference (0.2394) was itself measured min-of-2, so a
    // median-over-min ratio silently deflates the normalized series vs
    // every prior round. Each statistic therefore normalizes against a
    // SAME-STAT reference: min/min continues the r<=10 series, and
    // median/median starts a correctly-based series re-baselined this
    // round. Raw samples ship in the artifact either way.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.SortedSet.empty[String]
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Sample positions computed explicitly (ADVICE_r12: the floor-division
    // step yielded 4-7 intra-pass samples depending on registry size,
    // drifting off its documented count): exactly the 4 quartile boundaries
    // of the pass, whatever the registry size, plus the 3 pass-boundary
    // samples.
    val calibPositions = (1 to 4).map(j => names.size * j / 4).filter(_ >= 1).toSet
    (1 to 2).foreach { _ =>
      calibSamples += calibrate()
      names.zipWithIndex.foreach { case (name, i) =>
        val t0 = System.nanoTime()
        try {
          materialize(name)
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => System.err.println(s"BENCH-FAIL $name: $e"); failed += name }
        if (calibPositions.contains(i + 1)) calibSamples += calibrate()
      }
    }
    calibSamples += calibrate()
    // true median: even sample counts average the two middle elements
    // (ADVICE_r11 — sorted(size/2) alone is the upper-middle element)
    val calibration =
      if (calibSamples.isEmpty) Double.MaxValue
      else {
        val s = calibSamples.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    val calibrationMin =
      if (calibSamples.isEmpty) Double.MaxValue else calibSamples.min
    best --= failed
    val results = names.filter(best.contains).map(n => n -> best(n))
    val failedJson = failed.map(jstr).mkString(""","failed":[""", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Scale rehearsal: re-time the 10 heaviest queries against a
    // deterministically derived 10x dataset — the cheapest empirical check
    // of the plan pins' 100x-scale claims. A query whose ratio grows far
    // beyond the data factor is super-linear in a data-dependent hot spot.
    // MIN OF 2 interleaved passes, same CPU-steal rationale as the main
    // loop: the single-shot design produced two false alarms (q196 read
    // 18.8x in an interim round-5 run and re-measured ~1x; q270's 19.6x was
    // part steal, part structure) — one steal window shorter than a pass
    // can now inflate at most one timed run of each query.
    val scaleup =
      if (sys.env.getOrElse("SPARK_GRAFT_SCALEUP", "1") == "0") ""
      else try {
        val factor = 10
        val dir10 = ScaleData.build(spark, sfDir, factor)
        // Streaming gates are excluded: their cost is watermark/state-bounded
        // (not scan-bound — exactly what the rehearsal probes), and their
        // staged checkpoint/input scratch dirs assume the driver-provided
        // sf dir layout. PINNED entries (VERDICT r7 #4): the heaviest-10
        // selection never sampled the round-7 mutual-kNN graph family, so
        // the corpus-as-queries ANN path went scale-unmeasured — q437
        // (link prediction over the mutual-kNN graph) and q446 (ANF over
        // the same substrate) always get a rehearsal slot now; q495
        // (VERDICT r8 #6) pins the IVF-PQ family the same way — its
        // artifact builds once per (session, dir), so min-of-2 measures
        // the production search-from-artifact cost, pass 1 the build.
        val pinned = Seq("q437_link_prediction", "q446_neighborhood_function",
            "q495_ivfpq_search")
          .filter(best.contains)
        val heavy = (pinned ++ results.filterNot(_._1.contains("stream"))
          .sortBy(-_._2).take(10).map(_._1)).distinct
        val bestAt10 = scala.collection.mutable.Map.empty[String, Double]
        val attempted = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
        // A killed/stopped context (e.g. the harness SIGTERMs the JVM and
        // Spark's shutdown hook races the main thread — observed once mid-
        // rehearsal) must not cascade: every remaining query would fast-fail
        // with "No active or default Spark session". Stop at the first dead
        // context, keeping completed entries, so the artifact records the
        // environmental abort rather than N bogus ok:false rows.
        (1 to 2).foreach { _ =>
          heavy.iterator
            .takeWhile(_ => !spark.sparkContext.isStopped)
            .foreach { name =>
              val t0 = System.nanoTime()
              val ok =
                try { materializeAt(spark, name, dir10); true }
                catch { case e: Throwable =>
                  System.err.println(s"SCALE-FAIL $name: $e"); false }
              val sec = (System.nanoTime() - t0) / 1e9
              if (ok)
                bestAt10(name) =
                  math.min(bestAt10.getOrElse(name, Double.MaxValue), sec)
              attempted(name) = attempted.getOrElse(name, false) || ok
            }
        }
        // Never-succeeded entries carry JSON null, not a -1.0 sentinel
        // (ADVICE_r06): a negative fake wall-clock skews any consumer that
        // sums or ratios detail files across rounds; `ok` is the validity
        // signal, null is the honest "no measurement".
        val ratios = attempted.collect { case (name, true) =>
          bestAt10.get(name).collect { case v if best(name) > 0 => name -> v / best(name) }
        }.flatten.toMap
        val entries = attempted.map { case (name, ok) =>
          val base = best(name)
          val sec = bestAt10.get(name).filter(_ => ok)
          s"\"" + name + s"\":{\"sf\":$base,\"x$factor\":${sec.getOrElse("null")}," +
            s"\"ratio\":${ratios.get(name).getOrElse("null")},\"ok\":$ok}"
        }.toSeq
        s""","scaleup":{"factor":$factor,"queries":${entries.mkString("{", ",", "}")}${
          ratioGrowth(ratios, calibration)}}"""
      } catch { case e: Throwable =>
        System.err.println(s"SCALE-REHEARSAL-SKIPPED: $e"); ""
      }
    // The full artifact ALSO goes to a repo file: the driver retains only
    // ~2000 chars of stdout tail, so with 400+ queries the per-query map
    // never survives in BENCH_r<N>.json (round 5 kept 24 of 427 entries) —
    // cross-round per-query comparison needs the file, not the tail.
    // Cross-round NORMALIZED total (VERDICT_r10 next #6): total scaled by
    // ref_calibration / calibration cancels the shared-VM speed of the box
    // the round happened to run on, so round-over-round totals compare like
    // for like. The reference point is the round-8 snapshot's calibration
    // (BENCH_detail_r08.json, committed), overridable for re-baselining.
    // SAME-STAT references (ADVICE_r11 — a median-over-min ratio broke the
    // series): the min reference stays the round-8 snapshot's min-of-2
    // (BENCH_detail_r08.json), continuing rounds <= 10 like-for-like; the
    // MEDIAN reference is re-baselined from the round-11 driver run's
    // median-of-9 (BENCH_detail_latest.json at r11 HEAD, 0.238540795 —
    // that run's box happened to run at the r8 reference's speed, so the
    // two series are numerically commensurate at the anchor). Both refs,
    // both stats and both normalized totals ship in the artifact.
    val refCalibrationMin = sys.env.get("GRAFT_BENCH_REF_CALIB").map(_.toDouble)
      .getOrElse(0.239411813)
    val refCalibrationMedian =
      sys.env.get("GRAFT_BENCH_REF_CALIB_MEDIAN").map(_.toDouble)
        .getOrElse(0.238540795)
    // the old re-baselining knob now drives only the minstat series — a
    // caller setting it alone would silently see an unmoved headline
    if (sys.env.contains("GRAFT_BENCH_REF_CALIB")
        && !sys.env.contains("GRAFT_BENCH_REF_CALIB_MEDIAN"))
      System.err.println(
        "BENCH-NOTE: GRAFT_BENCH_REF_CALIB re-bases only value_normalized_minstat; " +
          "set GRAFT_BENCH_REF_CALIB_MEDIAN to re-base the headline value_normalized")
    val calib =
      if (calibration == Double.MaxValue) ""
      else s""","calibration_sec":$calibration,"calibration_stat":"median","calibration_min_sec":$calibrationMin,"calibration_samples":${
        calibSamples.mkString("[", ",", "]")
      },"ref_calibration_sec":$refCalibrationMedian,"ref_calibration_stat":"median","value_normalized":${
        total * refCalibrationMedian / calibration
      },"ref_calibration_min_sec":$refCalibrationMin,"value_normalized_minstat":${
        total * refCalibrationMin / calibrationMin}"""
    // Companion total merging this run's per-query times with the PREVIOUS
    // committed detail artifact's (VERDICT_r11 next #7): the round's flag
    // churn is CPU-steal noise by signature (flags rotated through four
    // disjoint sets across four same-code r11 runs, repeat_flagged empty
    // every time), and a per-query min across runs kills that noise floor
    // at the source — a steal window inflates one run of a query, not all
    // of them. Convention: the committed BENCH_detail_latest.json is this
    // round's own last full run at HEAD, so the merge is same-code; `value`
    // stays the single-run headline (a changed plan reads stale-low in a
    // cross-code merge, so the merged number is the COMPANION, not the
    // gate). Queries without a prev entry contribute their current time.
    // Same-code guard (ADVICE_r12): the merge is only valid when the prev
    // detail artifact came from THIS code — a stale file from a prior
    // round would silently mix cross-code per-query times and read
    // stale-low. The detail artifact carries a build fingerprint (a hash
    // of the compiled classes, so a plan change inside an unrenamed query
    // changes it as surely as an added, removed or renamed query), and the
    // merge is skipped with a note when the prev's doesn't match or
    // predates the field. The older code fingerprint (registry names +
    // size) is still emitted for readers of the artifact.
    val codeFingerprint =
      f"${scala.util.hashing.MurmurHash3.orderedHash(names) & 0xffffffffL}%08x-${names.size}"
    val buildFp = buildFingerprint()
    val minOfRuns: String = {
      val prevPath = sys.env.getOrElse("GRAFT_BENCH_PREV",
        sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_detail_latest.json"))
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(prevPath))
        val prevFp = root.path("build_fingerprint")
        if (!prevFp.isTextual || prevFp.asText() != buildFp || buildFp == "unknown") {
          System.err.println(s"MIN-OF-RUNS-SKIPPED: prev artifact $prevPath " +
            s"build_fingerprint ${if (prevFp.isTextual) prevFp.asText() else "absent"} " +
            s"!= current $buildFp (different code — merge would mix runs)")
          ""
        } else {
          val it = root.path("queries").fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble
          }
          val prev = b.result()
          if (prev.isEmpty) ""
          else {
            val merged = results.map { case (n, v) =>
              math.min(v, prev.getOrElse(n, Double.MaxValue))
            }.sum
            s""","value_min_of_runs":$merged,"min_of_runs_prev":${jstr(prevPath)}"""
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"MIN-OF-RUNS-SKIPPED: $e"); ""
      }
    }
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$failedJson,"code_fingerprint":"$codeFingerprint","build_fingerprint":"$buildFp","queries":$qs,"sf":"$sfDir"$calib$minOfRuns$scaleup}"""
    val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_detail_latest.json")
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"BENCH-DETAIL-WRITE-FAILED $detailPath: $e")
    }
    // Emission order matters: the driver stores only the TAIL of the output,
    // and the per-query map outgrew it in rounds 3 AND 4 (both artifacts kept
    // a truncated JSON with parsed:null). The compact total-only line goes
    // BOTH before and — decisively — AFTER the huge per-query line, so the
    // tail always ends with a parseable total no matter how much the map
    // truncates.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$failedJson,"sf":"$sfDir"$calib}""")
    println(fullJson)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$failedJson,"sf":"$sfDir"$calib$scaleup}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** SHA-256 (first 16 hex digits) over the compiled `graft` classes this
    * run executes: every `.class` file under `graft/` in the classes
    * directory Bench runs from, name and bytes, in name order. Two builds of
    * different code differ here even when their registry names agree.
    * "unknown" when that directory cannot be read (a packaged jar, say),
    * which never counts as a match, so a merge is skipped rather than mixed.
    */
  private[graft] def buildFingerprint(): String = scala.util.Try {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = scala.util.Using.resource(Files.walk(root.resolve("graft"))) {
      _.iterator.asScala.filter(_.toString.endsWith(".class")).toList
    }
    require(classes.nonEmpty, s"no graft classes under $root")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    classes.map(p => root.relativize(p).toString -> p).sortBy(_._1).foreach { case (name, p) =>
      md.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }.getOrElse("unknown")

  /** JSON string literal with control/quote/backslash escaping — paths from
    * env vars go through this so a quoted or backslashed path can never
    * emit an unparseable detail artifact (which would break every
    * downstream reader on the NEXT run's prev-artifact parse).
    */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** VERDICT r8 #4 — the automated watch rule: the rehearsal's regression
    * signal is ratio GROWTH round-over-round at fixed code, not ratio level
    * (SURVEY §2.18: corpus-linear ops legitimately read 2-4x at sf0.1 from
    * fixed overhead). Compares this run's scaleup ratios against the
    * previous round's detail artifact (the committed
    * BENCH_detail_latest.json, read before this run overwrites it;
    * override with GRAFT_BENCH_PREV) and flags growth > 20%. Emitted
    * inside the scaleup section so BENCH_r<N> carries the comparison —
    * a flagged entry demands a fix or an explanation, not silence.
    *
    * FLAG HISTORY (VERDICT_r10 next #5): flags have been observed FLAPPING
    * on CPU-steal noise at fixed code (q495 measured 1.24/1.35/1.55/2.00
    * across same-code runs), so the adjudication rule — "a flag that
    * REPEATS at comparable calibration is code, a one-off on a slow box is
    * noise" — needs the prior round's flags and both calibrations IN the
    * artifact to be machine-checkable, not reconstructed from prose. The
    * section now carries `prev_flagged` + `prev_calibration_sec` +
    * `cur_calibration_sec` verbatim from/for the compared artifacts, and
    * `repeat_flagged` = flagged now AND flagged last round — the entries
    * that demand a code diagnosis rather than a re-run.
    *
    * LEVEL CHECK (VERDICT_r12 next #2 — the two-stage rule's second stage,
    * mechanical): the growth flag fires whenever the PREV run's x10
    * windows were unusually fast (deflated denominators), so a repeat flag
    * alone is not a verdict — the adjudication is the ABSOLUTE ratio
    * against the documented 2-4x corpus-linear band (SURVEY section 2.18).
    * Each entry carries `level_ok` = ratio <= 4.0, and
    * `repeat_needs_diagnosis` = repeat_flagged AND NOT level_ok — the only
    * set that demands a stage profile; repeat_flagged ∧ level_ok
    * self-adjudicates as steal noise on the record.
    */
  private def ratioGrowth(cur: Map[String, Double], curCalibration: Double): String = {
    val prevPath = sys.env.getOrElse("GRAFT_BENCH_PREV",
      sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_detail_latest.json"))
    var prevCalib: Option[Double] = None
    var prevFlagged: Seq[String] = Nil
    val prev: Map[String, Double] = try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(prevPath))
      val pc = root.path("calibration_sec")
      if (pc.isNumber) prevCalib = Some(pc.asDouble)
      val pf = root.path("scaleup").path("ratio_growth").path("flagged")
      if (pf.isArray) {
        val fit = pf.elements()
        val fb = Seq.newBuilder[String]
        while (fit.hasNext) fb += fit.next().asText()
        prevFlagged = fb.result()
      }
      val it = root.path("scaleup").path("queries").fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        val r = e.getValue.path("ratio")
        if (r.isNumber) b += e.getKey -> r.asDouble
      }
      b.result()
    } catch { case e: Throwable =>
      System.err.println(s"RATIO-GROWTH-SKIPPED $prevPath: $e"); Map.empty
    }
    val shared = cur.keys.filter(prev.contains).toSeq.sorted
    if (shared.isEmpty) ""
    else {
      def growth(n: String): Double = cur(n) / prev(n)
      def levelOk(n: String): Boolean = cur(n) <= 4.0
      val entries = shared.map(n =>
        s"\"" + n + s"\":{\"prev\":${prev(n)},\"cur\":${cur(n)}," +
          s"\"growth\":${growth(n)},\"flag\":${growth(n) > 1.2}," +
          s"\"level_ok\":${levelOk(n)}}")
      val flaggedNames = shared.filter(growth(_) > 1.2)
      val flagged = flaggedNames.map("\"" + _ + "\"")
      val repeatNames = flaggedNames.filter(prevFlagged.contains)
      val repeat = repeatNames.map("\"" + _ + "\"")
      val needsDiagnosis = repeatNames.filterNot(levelOk)
        .map("\"" + _ + "\"")
      val prevFlaggedJson = prevFlagged.map("\"" + _ + "\"")
      val calibs =
        s""""prev_calibration_sec":${prevCalib.getOrElse("null")},""" +
          s""""cur_calibration_sec":${
            if (curCalibration == Double.MaxValue) "null" else curCalibration}"""
      s""","ratio_growth":{"prev_artifact":${jstr(prevPath)},$calibs,"prev_flagged":${
        prevFlaggedJson.mkString("[", ",", "]")},"entries":${
        entries.mkString("{", ",", "}")},"flagged":${flagged.mkString("[", ",", "]")},"repeat_flagged":${
        repeat.mkString("[", ",", "]")},"repeat_needs_diagnosis":${
        needsDiagnosis.mkString("[", ",", "]")}}"""
    }
  }

  // Takes the session explicitly: SparkSession.active is thread-local state
  // that gate queries (q347/q398/q400) save/restore — holding the handle is
  // robust where re-resolving it is not.
  private def materializeAt(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
}

/** Derives a `factor`x dataset from a harness scale dir for the Bench scale
  * rehearsal (never used by correctness gates — those run only on driver
  * data). The derivation is deterministic and preserves each table's
  * STATISTICAL shape without creating cross-copy duplicates, so dedup/ANN
  * workloads scale the way a genuinely larger corpus would instead of
  * exploding quadratically on planted copy-pairs:
  *  - documents: copy k suffixes every token with `_k` — shingle/token
  *    structure identical within a copy, disjoint across copies (10 shards);
  *  - embeddings: copy k sign-flips a k-dependent subset of dimensions —
  *    norms and within-copy geometry identical, cross-copy cosine scattered
  *    — and shifts the label space per copy (label + k*10): the label
  *    column stands in for an IVF cell assignment, and a production index
  *    REFIT to a factor-x corpus grows cell COUNT, bounding cell SIZE — a
  *    fixed 10-cell space at 10x data would rehearse a pathologically
  *    under-fit index (cells 10x denser, cell joins 100x the pairs) that
  *    no deployment would run;
  *  - lineitem/orders: order keys shifted per copy (join integrity kept);
  *    customer/part/supplier keys untouched — dims stay fixed, so per-key
  *    fan-in grows with the factor (the conservative direction for skew);
  *  - events: event/user ids shifted per copy (factor x users, same window).
  */
object ScaleData {
  private val KeyOff = 1000000000L

  def build(spark: SparkSession, sfDir: String, factor: Int): String = {
    val out = s"/tmp/graft_scale/${spark.sparkContext.applicationId}/" +
      s"${new java.io.File(sfDir).getName}_x$factor"
    def copies(df: DataFrame, derive: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => derive(df, k)).reduce(_ unionAll _)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t, Tables.read(spark, sfDir, t)))
    write("documents", copies(Tables.read(spark, sfDir, "documents"), (df, k) =>
      if (k == 0) df
      else {
        val text = array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_$k"))), " ")
        df.select((col("doc_id") + k * KeyOff).as("doc_id"), text.as("text"),
          col("lang"), col("source"), length(text).cast("long").as("n_chars"))
      }))
    write("embeddings", copies(Tables.read(spark, sfDir, "embeddings"), (df, k) =>
      if (k == 0) df
      else df.select((col("vec_id") + k * KeyOff).as("vec_id"),
        transform(col("embedding"),
          (v, i) => when((i + k) % 3 === 0, -v).otherwise(v))
          .cast("array<float>").as("embedding"),
        (col("label") + k * 10).as("label"))))
    write("lineitem", copies(Tables.read(spark, sfDir, "lineitem"), (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * KeyOff)))
    write("orders", copies(Tables.read(spark, sfDir, "orders"), (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + k * KeyOff)))
    write("events", copies(Tables.read(spark, sfDir, "events"), (df, k) =>
      df.withColumn("event_id", col("event_id") + k * KeyOff)
        .withColumn("user_id", col("user_id") + k * KeyOff)))
    out
  }
}
