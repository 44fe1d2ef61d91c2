package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It prints `perfbench-ready` once the session
  * is built (the set-up time mark). `--mode probe` then exits: a set-up
  * sample, and the JVM that records the class-data archive. `--mode gen`
  * only writes the seed's inputs and prints their hash. `--mode run`
  * generates one workload's inputs from the seed, runs its ops in a closed
  * loop for `--seconds`, checks every op's output and prints one
  * `perfbench-result` JSON line of raw per-op samples, which
  * perfbench/run.py turns into the reported metrics.
  */
object Main {
  val MiB = 1048576.0

  /** The session `graft.Bench` builds, with local dirs inside the run's
    * work directory.
    */
  def session(cores: Int, work: File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(a("work"))
    val spark = session(a("cores").toInt, work)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    println("perfbench-ready")
    System.out.flush()
    a.getOrElse("mode", "run") match {
      case "run" =>
        val result = try run(spark, a, work) finally spark.stop()
        println("perfbench-result " + Json.render(result))
      case "gen" =>
        val ctx = new Ctx(spark, new Tracer(spark, new Meter), work, a("seed").toLong)
        val gen = try workload(a("workload"), ctx).generate() finally spark.stop()
        println("perfbench-result " + Json.render(Map("input_sha256" -> Gen.sha256(ctx.input),
          "input_rows" -> gen.rows, "input_bytes" -> gen.bytes)))
      case "probe" => spark.stop()
      case other =>
        spark.stop()
        throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def workload(name: String, c: Ctx): Workload = name match {
    case "medallion_full" => new Medallion(c, nListings = 400, days = 14)
    case "scd2_daily" => new Scd2Daily(c, nListings = 2000)
    case "neardup_curation" => new NearDupCuration(c, nDocs = 800)
    case "ann_recall" => new AnnRecall(c, n = 300)
    case "toolkit_curation" => new ToolkitCuration(c, nDocs = 800, nVectors = 300)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def counters(w: Work): Array[Long] = Array(w.jobs.get, w.stages.get, w.tasks.get,
    w.cpuNs.get, w.gcMs.get, w.shuffleWriteB.get, w.fetchWaitMs.get, w.spillB.get,
    w.schedWaitMs.get, w.failedTasks.get, w.stageRetries.get)

  def run(spark: SparkSession, a: Map[String, String], work: File): Map[String, Any] = {
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val corrupt = a.getOrElse("corrupt", "0") == "1"
    val cores = a("cores").toInt
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    val plans = new PlanLog
    if (trace) spark.listenerManager.register(plans)
    val tracer = new Tracer(spark, meter)
    val ctx = new Ctx(spark, tracer, work, a("seed").toLong)
    val w = workload(name, ctx)

    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench phase $what at ${(System.nanoTime() - start) / 1e9}%.2f s")
    val gen = w.generate()
    val genS = (System.nanoTime() - start) / 1e9
    val inputHash = Gen.sha256(ctx.input)
    phase("generated")
    w.setup()
    phase("set up")

    val ops = ArrayBuffer[scala.collection.mutable.Map[String, Any]]()

    def runOp(i: Int): Unit = {
      w.prepare(i)
      val traced = trace && (i == 0 || i % 2 == 1)
      PerfbenchBus.drain(sc)
      val before = counters(meter.total)
      val (att0, unatt0) = (meter.attributedJobs.get, meter.unattributedJobs.get)
      val stored0 = meter.storedBytes.get
      tracer.enabled = traced; tracer.op = i; meter.tracing = traced
      val rootId = tracer.spans.size
      val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      var error: String = null
      try tracer.span("op")(w.op(i))
      catch { case NonFatal(e) => error = e.toString; e.printStackTrace() }
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      tracer.enabled = false
      PerfbenchBus.drain(sc)
      meter.tracing = false
      val d = counters(meter.total).zip(before).map { case (x, y) => x - y }
      val storedMb = (meter.storedBytes.get - stored0) / MiB
      val rec = scala.collection.mutable.Map[String, Any](
        "i" -> i, "wall_s" -> wall, "traced" -> traced, "error" -> error,
        "jobs" -> d(0), "stages" -> d(1), "tasks" -> d(2), "task_cpu_s" -> d(3) / 1e9,
        "storage_mb" -> storedMb, "written_b" -> w.writtenBytes(i),
        "input_rows" -> w.inputRows(i), "input_b" -> w.inputBytes(i),
        "checkpoint" -> w.checkpointed(i))
      if (traced && error == null) {
        val att = meter.attributedJobs.get - att0
        val unatt = meter.unattributedJobs.get - unatt0
        rec("layer") = layerMetrics(tracer, plans, rootId, wall, ms0, ms1, cores, d, storedMb,
          att, unatt) ++ w.layer(i)
      }
      ops += rec
    }

    def checkOp(i: Int): Unit = {
      val rec = ops(i)
      val failed =
        if (rec("error") != null) Seq(s"$name.op_error")
        else try w.check(i) catch { case NonFatal(e) => e.printStackTrace(); Seq(s"$name.check_error") }
      rec("failed_checks") = failed
      rec("quality") = if (rec("error") != null) 0.0 else w.quality(i)
    }

    runOp(0)
    phase("cold op")
    w.reference()
    phase("reference")
    checkOp(0)
    phase("checked op 0")
    if (corrupt) {
      w.corrupt()
      checkOp(0)
    } else {
      // a traced run needs a traced and an untraced warm op for its overhead
      val minWarm = if (trace) 2 else 1
      val loop0 = System.nanoTime()
      var i = 1
      while ((System.nanoTime() - loop0) / 1e9 < seconds || i <= minWarm) {
        runOp(i); phase(s"op $i"); checkOp(i); phase(s"checked op $i"); i += 1
      }
    }

    val traceFile = a.get("trace-file").filter(_ => trace)
    traceFile.foreach(f => writeTrace(new File(f), tracer, meter))
    val conf = spark.conf
    Map(
      "workload" -> name, "seed" -> a("seed").toLong, "gen_s" -> genS,
      "input_sha256" -> inputHash, "input_rows" -> gen.rows, "input_bytes" -> gen.bytes,
      "env" -> Map("master" -> sc.master, "cores" -> cores,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> conf.get("spark.sql.adaptive.enabled"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / MiB,
        "spark_version" -> spark.version, "java" -> System.getProperty("java.version")),
      "ops" -> ops.map(_.toMap), "trace_file" -> traceFile)
  }

  /** Per-layer metrics of one traced op, from its spans and the Spark work
    * attributed to them.
    */
  def layerMetrics(tracer: Tracer, planLog: PlanLog, rootId: Int, wall: Double, ms0: Long,
      ms1: Long, cores: Int, d: Array[Long], storedMb: Double, attributed: Long,
      unattributed: Long): Map[String, Double] = {
    val spans = tracer.subtree(rootId)
    def secs(s: Span) = (s.endNs - s.startNs) / 1e9
    // outermost spans matching `p`, so nested matches are not counted twice
    def outer(p: Span => Boolean): Seq[Span] = spans.filter { s =>
      p(s) && !Iterator.iterate(s.parent)(x => tracer.spans(x).parent)
        .takeWhile(_ >= 0).exists(x => p(tracer.spans(x)))
    }
    def named(n: String)(s: Span) = s.name == n
    def prefixed(pre: String)(s: Span) = s.name.startsWith(pre)
    def dur(p: Span => Boolean) = outer(p).map(secs).sum
    def work(p: Span => Boolean): Work = {
      val w = new Work; outer(p).foreach(s => w.add(tracer.work(s.id))); w
    }
    def cpu(p: Span => Boolean) = work(p).cpuNs.get / 1e9
    def jobs(p: Span => Boolean) = work(p).jobs.get.toDouble
    def shuffleMb(p: Span => Boolean) = work(p).shuffleWriteB.get / MiB
    val opPlans = planLog.all.filter(p => p.startMs >= ms0 && p.startMs <= ms1)
    def plansIn(p: Span => Boolean) = opPlans.filter(f =>
      outer(p).exists(s => f.startMs >= s.startMs && f.startMs <= s.endMs))
    val factJoins = plansIn(named("step.fact")).flatMap(_.joins)
    val verify = plansIn(named("step.neardup")).filter(_.candidates >= 0)
    val candidates = verify.map(_.candidates).sum.toDouble
    val selfNs = spans.map(tracer.selfNs).sum
    val rootNs = spans.head.endNs - spans.head.startNs
    Map(
      "spark.plan_s" -> opPlans.map(_.planMs).sum / 1000.0,
      "spark.sched_wait_s" -> d(8) / 1000.0,
      "spark.jobs" -> d(0).toDouble,
      "spark.stages" -> d(1).toDouble,
      "spark.cpu_util" -> d(3) / 1e9 / (wall * cores),
      "spark.task_cpu_s" -> d(3) / 1e9,
      "spark.gc_s" -> d(4) / 1000.0,
      "spark.shuffle_write_mb" -> d(5) / MiB,
      "spark.fetch_wait_s" -> d(6) / 1000.0,
      "spark.spill_mb" -> d(7) / MiB,
      "spark.storage_mb" -> storedMb,
      "spark.failed_tasks" -> d(9).toDouble,
      "spark.stage_retries" -> d(10).toDouble,
      "spark.jobs_attributed_ratio" ->
        (if (attributed + unattributed == 0) 1.0 else attributed.toDouble / (attributed + unattributed)),
      "cleaning.ingest_s" -> dur(named("step.silver")),
      "cleaning.task_cpu_s" -> cpu(named("step.silver")),
      "keys.call_s" -> dur(named("keys.surrogate")),
      "keys.jobs" -> jobs(named("keys.surrogate")),
      "scd2.merge_s" -> dur(prefixed("scd2.")),
      "scd2.jobs" -> jobs(prefixed("scd2.")),
      "datedim.s" -> dur(named("step.dim_date")),
      "starjoin.fact_s" -> dur(named("step.fact")),
      "starjoin.task_cpu_s" -> cpu(named("step.fact")),
      "starjoin.shuffle_mb" -> shuffleMb(named("step.fact")),
      "starjoin.broadcast_join_ratio" ->
        (if (factJoins.isEmpty) 0.0
        else factJoins.count(j => PlanWalk.isBroadcast(j._1)).toDouble / factJoins.size),
      "txlog.apply_s" -> dur(named("txlog.apply")),
      "txlog.append_s" -> dur(named("txlog.append")),
      "txlog.snapshot_s" -> (dur(named("txlog.snapshot")) + dur(named("txlog.read"))),
      "txlog.jobs" -> jobs(prefixed("txlog.")),
      "neardup.s" -> dur(named("step.neardup")),
      "neardup.jobs" -> jobs(named("step.neardup")),
      "neardup.shuffle_mb" -> shuffleMb(named("step.neardup")),
      "neardup.candidate_pairs" -> candidates,
      "neardup.pair_yield" ->
        (if (candidates <= 0) 0.0 else verify.map(_.verified).sum / candidates),
      "ivfpq.build_s" -> dur(named("step.ivfpq_build")),
      "ivfpq.search_s" -> dur(named("step.ivfpq_search")),
      "similarity.graph_s" -> dur(named("step.graph")),
      "similarity.walk_s" -> dur(named("step.walk")),
      "similarity.walk_jobs" -> jobs(named("step.walk")),
      "trace.spans" -> spans.size.toDouble,
      "trace.self_time_ratio" -> selfNs.toDouble / rootNs,
      "trace.root_self_ratio" -> tracer.selfNs(spans.head).toDouble / rootNs)
  }

  /** All spans, with self time and attributed Spark work, plus per-name
    * self-time totals per op — written once at the end of a traced run.
    */
  def writeTrace(f: File, tracer: Tracer, meter: Meter): Unit = {
    f.getParentFile.mkdirs()
    val spans = tracer.spans.map { s =>
      val w = meter.spanWork(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "dur_s" -> (s.endNs - s.startNs) / 1e9,
        "self_s" -> tracer.selfNs(s) / 1e9, "jobs" -> w.jobs.get, "stages" -> w.stages.get,
        "task_cpu_s" -> w.cpuNs.get / 1e9, "shuffle_write_mb" -> w.shuffleWriteB.get / MiB)
    }
    val selfByName = tracer.spans.groupBy(_.op).map { case (op, ss) =>
      op.toString -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(tracer.selfNs).sum / 1e9 }
    }
    val out = new PrintWriter(f, "UTF-8")
    try out.println(Json.render(Map("spans" -> spans, "self_s_by_op" -> selfByName,
      "unattributed_jobs" -> meter.unattributedJobs.get,
      "attributed_jobs" -> meter.attributedJobs.get)))
    finally out.close()
  }
}
