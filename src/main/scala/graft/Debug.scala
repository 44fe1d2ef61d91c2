package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Scratch profiling entry (dev-only, not part of the driver contract). */
object Debug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    // Per-run counters: job/stage counts and summed task CPU are
    // steal-immune proxies for "how much work did this run launch" on a
    // noisy shared box — wall times swing 2x between repeats, these don't.
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val printJobs = sys.env.contains("GRAFT_JOBS")
    def counters(): (Long, Long, Double, Double) =
      (nJobs.get, nStages.get, cpuNs.get / 1e9, runMs.get / 1e3)
    // The counters as of the last marker job's start (ListenerMarker); the
    // marker's own job and stages are not counted.
    val settled = new java.util.concurrent.atomic.AtomicReference(counters())
    val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (ListenerMarker.isMarker(js.properties)) {
          js.stageIds.foreach(markerStages.add)
          settled.set(counters())
        } else {
          nJobs.incrementAndGet()
          if (printJobs) println(s"JOB ${js.jobId} " +
            Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?") + " :: " +
            js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | "))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        if (!markerStages.contains(si.stageId)) {
          nStages.incrementAndGet()
          cpuNs.addAndGet(si.taskMetrics.executorCpuTime)
          runMs.addAndGet(si.taskMetrics.executorRunTime)
          val cpuSec = si.taskMetrics.executorCpuTime / 1e9
          val runSec = si.taskMetrics.executorRunTime / 1e3
          if (runSec > 0.5) println(
            f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d run=${runSec}%8.1fs cpu=${cpuSec}%8.1fs  ${si.name.takeWhile(_ != '\n')}")
        }
      }
    })
    def diffCounters(tag: String, name: String, before: (Long, Long, Double, Double)): Unit = {
      // Stage completions trail their job's end: a marker job closes the
      // window once the bus has delivered every event posted before it.
      ListenerMarker.close(spark.sparkContext)
      val now = settled.get
      println(f"$tag $name jobs=${now._1 - before._1} stages=${now._2 - before._2} " +
        f"cpu=${now._3 - before._3}%.1fs taskrun=${now._4 - before._4}%.1fs")
    }
    // GRAFT_SCALE_FACTOR=k: run the named queries against a ScaleData-derived
    // k-x dataset (the Bench rehearsal's derivation) instead of sfDir —
    // lets a single query's scale ratio be re-measured without a full bench.
    val runDir = sys.env.get("GRAFT_SCALE_FACTOR") match {
      case Some(f) => ScaleData.build(spark, sfDir, f.toInt)
      case None => sfDir
    }
    args.foreach { name =>
      // Timed EXACTLY like Bench.materialize: construction + noop
      // materialization together — registry queries do eager work
      // (localCheckpoints, collects, stream starts) during construction,
      // so timing only the final write under-measures them.
      val tc = System.nanoTime()
      val c0 = counters()
      val df = SparkEntry.queries(name)(spark, runDir)
      // GRAFT_DUMP_DIR: write the Verify-shaped parquet for JUST these
      // queries (drop-in refresh of a full Verify out-dir for a targeted
      // tools/compare.py re-check); otherwise noop-materialize for timing.
      sys.env.get("GRAFT_DUMP_DIR") match {
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      println(s"TIMING-COLD $name ${(System.nanoTime() - tc) / 1e9}")
      diffCounters("COUNTERS-COLD", name, c0)
      // GRAFT_WARM=<n>: n warm repeats of the FULL construction+materialize
      // (what Bench's second pass times); prints each, take the min.
      sys.env.get("GRAFT_WARM").foreach { w =>
        val n = scala.util.Try(w.toInt).getOrElse(1)
        (1 to n).foreach { _ =>
          val t0 = System.nanoTime()
          val w0 = counters()
          SparkEntry.queries(name)(spark, runDir)
            .write.format("noop").mode("overwrite").save()
          println(s"TIMING $name ${(System.nanoTime() - t0) / 1e9}")
          diffCounters("COUNTERS", name, w0)
        }
      }
      if (sys.env.contains("GRAFT_EXPLAIN")) df.explain("formatted")
      // GRAFT_EXPLAIN_DIR=<dir>: write each query's formatted plan to
      // <dir>/<name>.txt — the plans/rNN before/after evidence files.
      sys.env.get("GRAFT_EXPLAIN_DIR").foreach { d =>
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    // Dump mode: write the COMPLETE oracle json (not just the dumped
    // queries) so refreshing single queries inside a full Verify out-dir
    // never shrinks the correctness gate; tools/compare.py skips oracle
    // entries with no dumped parquet, so a fresh partial dir still works.
    sys.env.get("GRAFT_DUMP_DIR").foreach { dir =>
      OracleJson.write(dir, SparkEntry.oracleSql)
    }
    spark.stop()
  }
}
