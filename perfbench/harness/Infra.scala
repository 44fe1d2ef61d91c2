package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness's one-line results. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }
}

/** Directory sizes: the write-amplification and staged-bytes probes. */
object Files {
  def tree(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(tree)
    else Seq(f)

  /** Bytes and data-file count under `dir`, ignoring Hadoop's .crc sidecars
    * and the _SUCCESS marker (bookkeeping, not data).
    */
  def dataFiles(dir: String): Seq[File] =
    tree(new File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_SUCCESS")
    }

  def bytes(dirs: Seq[String]): Long = dirs.flatMap(dataFiles).map(_.length).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }
}

/** One recorded span: a harness call into a library module. `op` is the op
  * index the span belongs to, `parent` the enclosing span (-1 at the root).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

/** Per-span Spark work, filled from listener events attributed through the
  * `perfbench.span` local property the tracer sets around each call.
  */
final class Work {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val cpuNs = new AtomicLong; val gcMs = new AtomicLong
  val shuffleWriteB = new AtomicLong; val fetchWaitMs = new AtomicLong
  val spillB = new AtomicLong; val schedWaitMs = new AtomicLong
  val failedTasks = new AtomicLong; val stageRetries = new AtomicLong
  def add(o: Work): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
    cpuNs.addAndGet(o.cpuNs.get); gcMs.addAndGet(o.gcMs.get)
    shuffleWriteB.addAndGet(o.shuffleWriteB.get); fetchWaitMs.addAndGet(o.fetchWaitMs.get)
    spillB.addAndGet(o.spillB.get); schedWaitMs.addAndGet(o.schedWaitMs.get)
    failedTasks.addAndGet(o.failedTasks.get); stageRetries.addAndGet(o.stageRetries.get): Unit
  }
}

/** A query's planning cost and the plan facts the per-layer metrics read.
  * `joins` = (node name, output rows) for every join of the executed plan;
  * `verified`/`candidates` are the near-dup verify filter's output rows and
  * its input join's output rows, when the plan has one.
  */
final case class PlanFacts(startMs: Long, planMs: Long, joins: Seq[(String, Long)],
    candidates: Long, verified: Long)

object PlanWalk extends AdaptiveSparkPlanHelper {
  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

  private def hasIntersect(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.getClass.getSimpleName == "IntersectCard"))

  private def firstJoin(p: SparkPlan): Option[SparkPlan] =
    find(p)(_.isInstanceOf[BaseJoinExec])

  def facts(qe: QueryExecution): PlanFacts = {
    val plan = qe.executedPlan
    val joins = collect(plan) { case j: BaseJoinExec => (j.nodeName, rows(j)) }
    // the jaccard verify is either a Filter above the id_b join or pushed
    // into that join's condition; candidates are the rows entering it
    val verify = find(plan)(p => hasIntersect(p) &&
      (p.isInstanceOf[FilterExec] || p.isInstanceOf[BaseJoinExec]))
    val (cand, ver) = verify match {
      case Some(f: FilterExec) => (firstJoin(f.child).map(rows).getOrElse(-1L), rows(f))
      case Some(j) =>
        (j.children.flatMap(firstJoin).map(rows).filter(_ >= 0).sorted.lastOption
          .getOrElse(-1L), rows(j))
      case None => (-1L, -1L)
    }
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    PlanFacts(start, planMs, joins, cand, ver)
  }

  def isBroadcast(name: String): Boolean =
    name == classOf[BroadcastHashJoinExec].getSimpleName.stripSuffix("Exec") ||
      name == classOf[BroadcastNestedLoopJoinExec].getSimpleName.stripSuffix("Exec")
}

/** The Spark listener behind both the end-to-end counters (always on) and
  * the traced run's per-span attribution. Counters are monotonic; the
  * harness drains the listener bus and takes deltas around each op.
  */
final class Meter extends SparkListener {
  val Prop = "perfbench.span"
  val total = new Work
  val unattributedJobs = new AtomicLong
  val attributedJobs = new AtomicLong
  @volatile var tracing = false
  private val perSpan = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val blocks = ConcurrentHashMap.newKeySet[String]()
  /** Block-manager bytes stored so far: each block counted once, when first
    * stored. Frees are not subtracted — the cleaner frees broadcast blocks
    * when the JVM's GC collects them, so a running level would follow
    * GC timing rather than the op.
    */
  val storedBytes = new AtomicLong

  def spanWork(id: Int): Work = perSpan.computeIfAbsent(id, _ => new Work)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    if (tracing) {
      val s = spanOf(e.properties)
      if (s >= 0) { attributedJobs.incrementAndGet(); spanWork(s).jobs.incrementAndGet() }
      else unattributedJobs.incrementAndGet()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    total.stages.incrementAndGet()
    if (e.stageInfo.attemptNumber() > 0) total.stageRetries.incrementAndGet()
    stageSubmit.put(id, Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    if (tracing) {
      val s = spanOf(e.properties)
      stageSpan.put(id, s)
      if (s >= 0) {
        spanWork(s).stages.incrementAndGet()
        if (e.stageInfo.attemptNumber() > 0) spanWork(s).stageRetries.incrementAndGet()
      }
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val id = e.stageId
    if (stageFirstLaunch.putIfAbsent(id, Long.box(e.taskInfo.launchTime)) == null) {
      val wait = math.max(0L, e.taskInfo.launchTime -
        Option(stageSubmit.get(id)).map(_.longValue).getOrElse(e.taskInfo.launchTime))
      total.schedWaitMs.addAndGet(wait)
      if (tracing) {
        val s = stageSpan.getOrDefault(id, -1)
        if (s >= 0) spanWork(s).schedWaitMs.addAndGet(wait)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val targets = Seq(total) ++
      (if (tracing) Option(stageSpan.get(e.stageId)).map(_.intValue).filter(_ >= 0)
        .map(spanWork).toSeq else Nil)
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    targets.foreach { w =>
      w.tasks.incrementAndGet()
      if (failed) w.failedTasks.incrementAndGet()
      if (m != null) {
        w.cpuNs.addAndGet(m.executorCpuTime)
        w.gcMs.addAndGet(m.jvmGCTime)
        w.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        w.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.storageLevel.isValid && blocks.add(i.blockManagerId.executorId + "/" + i.blockId.name))
      storedBytes.addAndGet(i.memSize + i.diskSize)
  }
}

/** Query-execution listener for the traced run: planning time and plan
  * facts per executed query, attributed to spans by time afterwards.
  */
final class PlanLog extends QueryExecutionListener {
  val facts = new java.util.concurrent.ConcurrentLinkedQueue[PlanFacts]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    scala.util.Try(PlanWalk.facts(qe)).foreach(facts.add)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def all: Seq[PlanFacts] = facts.asScala.toSeq
}

/** Spans around the harness's calls into library modules, kept in memory
  * and written once at the end. Disabled, `span` is a plain call.
  */
final class Tracer(spark: SparkSession, meter: Meter) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  var enabled = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(meter.Prop)
      sc.setLocalProperty(meter.Prop, s.id.toString)
      stack = s.id :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(meter.Prop, prev)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of it its child spans cover (children
    * of one span run sequentially on the calling thread, so they never
    * overlap one another).
    */
  def selfNs(s: Span): Long = (s.endNs - s.startNs) - children(s.id).map(c => c.endNs - c.startNs).sum

  def subtree(id: Int): Seq[Span] = {
    val s = spans(id)
    s +: children(id).flatMap(c => subtree(c.id))
  }

  /** Spark work attributed to a span and all spans below it. */
  def work(id: Int): Work = {
    val w = new Work
    subtree(id).foreach(s => w.add(meter.spanWork(s.id)))
    w
  }
}
