package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.Locale

/** Per-layer metrics, the self-time table and the span dump of a traced
  * run. Metrics cover the engine-side ops; raw controls are traced too but
  * only appear in the span dump. */
object TraceReport {

  private def sum(ts: Seq[OpTrace], k: String): Double = ts.map(_.counters.getOrElse(k, 0.0)).sum
  private def div(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private val PerOp = Seq(
    ("catalog.calls", "count"), ("catalog.ms", "ms"), ("catalog.load_table_ms", "ms"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.resolve_dv_ms", "ms"),
    ("scan.build_ms", "ms"), ("scan.input_bytes", "B"), ("scan.input_records", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_window_ms", "ms"), ("exec.task_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"), ("exec.spill_bytes", "B"), ("driver.gap_ms", "ms"))

  /** Each value is per engine op unless its name says otherwise: commit and
    * write figures are per committing statement, maintenance figures per
    * compaction and `table.files` per op that listed its table. */
  def metrics(traces: Seq[OpTrace], cores: Int): Seq[(String, Double, String)] = {
    val eng = traces.filter(_.side == "engine")
    val n = eng.size.toDouble
    val writes = eng.filter(_.counters.contains("write.rows_changed"))
    val dml = writes.filterNot(_.kind.endsWith("_compact"))
    val compacts = eng.filter(_.kind.endsWith("_compact"))
    val listed = eng.filter(_.counters.contains("table.files"))
    PerOp.map { case (k, u) => (k, div(sum(eng, k), n), u) } ++ Seq(
      ("scan.rows_out_per_row_read", div(sum(eng, "scan.rows_out"), sum(eng, "scan.rows_read")), "ratio"),
      ("exec.core_util", div(sum(eng, "exec.task_ms"), sum(eng, "exec.job_window_ms") * cores), "ratio"),
      ("write.commit_tail_ms", div(sum(writes, "write.commit_tail_ms"), writes.size), "ms"),
      ("write.bytes_written", div(sum(writes, "write.bytes_written"), writes.size), "B"),
      ("write.bytes_per_row_changed",
        div(sum(dml, "write.bytes_written"), sum(dml, "write.rows_changed")), "B"),
      ("maintenance.compact_ms", div(compacts.map(_.wallMs).sum, compacts.size), "ms"),
      ("maintenance.compact_bytes_rewritten",
        div(sum(compacts, "maintenance.compact_bytes_rewritten"), compacts.size), "B"),
      ("table.files", div(sum(listed, "table.files"), listed.size), "count"))
  }

  private val Layers = Seq("driver", "catalog", "plans.analysis", "plans.optimization",
    "plans.planning", "exec", "write.commit_tail")

  /** Mean self time per layer for each op kind and side, in ms. */
  def selfTimeTable(traces: Seq[OpTrace]): Seq[String] = {
    val header = f"${"self ms per op"}%-34s${"n"}%5s" +
      (Layers :+ "wall").map(l => f"$l%20s").mkString
    header +: traces.groupBy(t => (t.kind, t.side)).toSeq.sortBy(_._1).map { case ((k, s), ts) =>
      val by = ts.map(t => SelfTime.byLayer(t.spans))
      val cells = Layers.map(l => by.map(_.getOrElse(l, 0.0)).sum / ts.size) :+
        ts.map(_.wallMs).sum / ts.size
      f"${s"$k/$s"}%-34s${ts.size}%5d" + cells.map(c => f"$c%20.1f").mkString
    }
  }

  /** One line per engine op in order: wall time, jobs and the table's
    * file count, which show deletion-vector debt building up between
    * compactions and folding at each one. */
  def timeline(traces: Seq[OpTrace]): Seq[String] =
    traces.filter(_.side == "engine").map { t =>
      val files = t.counters.get("table.files").map(f => f" files=${f.toInt}").getOrElse("")
      f"op ${t.opId}%4d ${t.kind}%-26s wall=${t.wallMs}%9.1f ms" +
        f" jobs=${t.counters.getOrElse("exec.jobs", 0.0).toInt}%3d$files"
    }

  def write(file: Path, traces: Seq[OpTrace]): Unit = {
    def num(v: Double) = String.format(Locale.ROOT, "%.3f", Double.box(v))
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = traces.map { t =>
      val spans = t.spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"layer":${str(s.layer)},""" +
          s""""name":${str(s.name)},"start_ms":${num(s.start)},"end_ms":${num(s.end)}}""")
      val counters = t.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      s"""{"op":${t.opId},"kind":${str(t.kind)},"side":${str(t.side)},""" +
        s""""spans":${spans.mkString("[", ",", "]")},"counters":${counters.mkString("{", ",", "}")}}"""
    }
    Files.writeString(file, body.mkString("[\n", ",\n", "\n]\n"))
  }
}
