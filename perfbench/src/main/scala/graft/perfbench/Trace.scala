package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of an op, in epoch milliseconds. `parent` is the id
  * of the enclosing span; the op's own span has id 0 and parent -1. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Everything recorded for one op of a traced run. */
final case class OpTrace(opId: Int, kind: String, side: String,
    spans: Seq[Span], counters: Map[String, Double]) {
  def wallMs: Double = spans.head.ms
}

object SelfTime {
  /** Layers that contain catalog calls made while they run. */
  private val Containers = Set("plans.analysis", "plans.optimization", "plans.planning",
    "exec", "write.commit_tail")

  /** Build an op's span tree: every span hangs under the op span, except
    * catalog calls, which hang under the innermost planning phase, job or
    * commit tail that contains them. `children` must not contain the root. */
  def nest(root: Span, children: Seq[Span]): Seq[Span] = {
    val top = children.filter(s => Containers(s.layer))
    root +: children.map { s =>
      if (s.layer != "catalog") s.copy(parent = root.id)
      else {
        val holder = top.filter(c => c.start <= s.start && s.end <= c.end)
        s.copy(parent = if (holder.isEmpty) root.id else holder.minBy(_.ms).id)
      }
    }
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ms - Stats.unionLength(covered, s.start, s.end))
    }.toMap
  }

  /** Self time summed per layer; the op span's own layer is `driver`. */
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }
}

/** Collects spans and counters for the op that is running. Engine events
  * arrive on Spark's listener bus; the op ends only after the bus has
  * drained ([[org.apache.spark.graft.SuiteHygiene.settle]]), so every
  * event of an op is attributed to it. Spans stay in memory until the run
  * ends. */
final class Recorder(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def clock(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final class Open(val opId: Int, val kind: String, val side: String,
      val start: Double) {
    val spans = mutable.ArrayBuffer.empty[Span]
    val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val jobStarts = mutable.HashMap.empty[Int, Long]
    var lastJobEnd = 0.0
    def add(k: String, v: Double): Unit = counters(k) += v
    def span(layer: String, name: String, s: Double, e: Double): Unit =
      spans += Span(spans.size + 1, 0, layer, name, s, e)
  }

  @volatile private var open: Option[Open] = None
  val traces = mutable.ArrayBuffer.empty[OpTrace]

  private def withOpen(f: Open => Unit): Unit = open.foreach(o => o.synchronized(f(o)))

  def begin(opId: Int, kind: String, side: String): Unit =
    open = Some(new Open(opId, kind, side, clock()))

  /** Close the op that returned at `endMs`. `writes` marks a statement
    * that commits, whose commit tail (last job end to return) becomes its
    * own span. */
  def end(endMs: Double, writes: Boolean, extra: Map[String, Double]): OpTrace = {
    org.apache.spark.graft.SuiteHygiene.settle(spark.sparkContext, 10000L)
    val o = open.get
    open = None
    o.synchronized {
      if (writes && o.lastJobEnd > o.start && o.lastJobEnd < endMs) {
        o.span("write.commit_tail", "commit", o.lastJobEnd, endMs)
        o.add("write.commit_tail_ms", endMs - o.lastJobEnd)
        o.add("write.ops", 1)
      }
      val phasesAndJobs = o.spans.filter(s => s.layer.startsWith("plans.") || s.layer == "exec")
        .map(s => (s.start, s.end))
      o.add("driver.gap_ms",
        (endMs - o.start) - Stats.unionLength(phasesAndJobs.toSeq, o.start, endMs))
      o.add("exec.job_window_ms", Stats.unionLength(
        o.spans.filter(_.layer == "exec").map(s => (s.start, s.end)).toSeq, o.start, endMs))
      extra.foreach { case (k, v) => o.add(k, v) }
      val root = Span(0, -1, "driver", o.kind, o.start, endMs)
      val t = OpTrace(o.opId, o.kind, o.side, SelfTime.nest(root, o.spans.toSeq),
        o.counters.toMap)
      traces += t
      t
    }
  }

  /** Time `body` as a span of the open op, counted as `<layer>_ms`. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val start = clock()
    try body
    finally {
      val end = clock()
      withOpen { o => o.span(layer, name, start, end); o.add(s"${layer}_ms", end - start) }
    }
  }

  def catalogCall(call: String, load: Boolean, start: Double, end: Double): Unit =
    withOpen { o =>
      o.span("catalog", call, start, end)
      o.add("catalog.calls", 1)
      o.add("catalog.ms", end - start)
      if (load) o.add("catalog.load_table_ms", end - start)
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      withOpen(o => o.jobStarts(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOpen { o =>
      o.jobStarts.remove(e.jobId).foreach { s =>
        o.span("exec", s"job ${e.jobId}", s.toDouble, e.time.toDouble)
        o.add("exec.jobs", 1)
        o.lastJobEnd = math.max(o.lastJobEnd, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      withOpen(_.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOpen { o =>
      o.add("exec.tasks", 1)
      o.add("exec.task_ms", e.taskInfo.duration.toDouble)
      val m = e.taskMetrics
      if (m != null) {
        o.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        o.add("exec.gc_ms", m.jvmGCTime.toDouble)
        o.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        o.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        o.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        o.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        o.add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
  }

  private def planned(qe: QueryExecution): Unit = withOpen { o =>
    qe.tracker.phases.foreach { case (phase, p) =>
      o.span(s"plans.$phase", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      o.add(s"plans.${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
    }
    qe.tracker.rules.foreach { case (rule, r) =>
      if (rule.contains("ResolveDeletionVectors")) o.add("plans.resolve_dv_ms", r.totalTimeNs / 1e6)
      if (rule.contains("V2ScanRelationPushDown")) o.add("scan.build_ms", r.totalTimeNs / 1e6)
    }
    val (out, read) = Recorder.scanRows(qe.executedPlan)
    o.add("scan.rows_out", out)
    o.add("scan.rows_read", read)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    TimedCatalog.recorder = Some(this)
  }

  def uninstall(): Unit = {
    TimedCatalog.recorder = None
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Recorder {
  private def rows(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)

  private def isScan(p: SparkPlan): Boolean =
    p.isInstanceOf[LeafExecNode] && p.nodeName.contains("Scan") &&
      p.metrics.contains("numOutputRows")

  /** Descend through the operators that sit between a filter and its scan
    * without changing rows (columnar conversion, codegen boundaries). */
  private def scanBelow(p: SparkPlan): Option[SparkPlan] =
    if (isScan(p)) Some(p)
    else if (p.children.size == 1 && Set("ColumnarToRow", "InputAdapter",
        "WholeStageCodegen").exists(p.nodeName.startsWith)) scanBelow(p.children.head)
    else None

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** (rows leaving the scans, rows the scans read) over a physical plan. A
    * scan's output counts after the filter directly above it, so the ratio
    * is the share of read rows the query wanted: pruning raises it. */
  def scanRows(plan: SparkPlan): (Double, Double) = {
    val all = nodes(plan)
    val filtered = all.collect { case f: FilterExec => f }.flatMap { f =>
      scanBelow(f.child).map(s => (s, rows(f)))
    }
    val seen = filtered.map(_._1)
    val bare = all.filter(p => isScan(p) && !seen.exists(_ eq p))
    (filtered.map(_._2).sum + bare.map(rows).sum,
      filtered.map(f => rows(f._1)).sum + bare.map(rows).sum)
  }
}
