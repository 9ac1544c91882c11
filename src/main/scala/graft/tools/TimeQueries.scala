package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graft.SuiteHygiene
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{Harness, SparkEntry}

/** Builder-side isolated timing probe (optimization-round inner loop):
  * run ONLY the named inventory entries through the bench's own timing
  * loop ([[Harness.time]]: noop sink, warm-up, min-of-N in pass-major
  * order, reset between windows) in a fresh JVM, and report per query:
  * wall seconds and the stage and task counts and summed task time of
  * its fastest pass, plus (with SPARK_GRAFT_PROBE_PLANS=dir) the
  * `explain("formatted")` text taken after its warm-up.
  *
  * Args: sfDir name1 name2 ...  Env: SPARK_GRAFT_CPUS (default 4, as
  * [[Harness.session]]), SPARK_GRAFT_PROBE_PASSES (default 3),
  * SPARK_GRAFT_PROBE_PLANS, SPARK_GRAFT_PROBE_STAGES=1 for a per-stage
  * stderr breakdown, SPARK_GRAFT_RAW=1 for the raw side of a paired
  * probe. Exits nonzero when an entry fails.
  *
  * This is a diagnosis tool, never the measurement of record — the
  * bench contract stays in [[graft.Bench]]. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown quer${if (unknown.size == 1) "y" else "ies"} " +
      unknown.mkString(", "))
    val spark = Harness.session()

    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // SPARK_GRAFT_PROBE_STAGES=1: per-stage breakdown (callsite, task
    // count, summed task time, shuffle bytes) — finds WHERE a query's
    // task time goes, since eager localCheckpoints hide phases from the
    // final explain (guide §1.1 empirical loop)
    val stageTrace = sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        if (stageTrace) {
          val m = sc.stageInfo.taskMetrics
          System.err.println(f"[stage] id=${sc.stageInfo.stageId}%4d " +
            f"tasks=${sc.stageInfo.numTasks}%4d " +
            f"taskTime=${m.executorRunTime / 1000.0}%7.2f s " +
            f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%8.2f MB " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%8.2f MB " +
            f"rowsOut=${m.shuffleWriteMetrics.recordsWritten}%9d  " +
            sc.stageInfo.name.takeWhile(_ != '\n').take(90))
        }
      }
    })

    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "3").toInt
    val plansDir = sys.env.get("SPARK_GRAFT_PROBE_PLANS")
    plansDir.foreach(d => new java.io.File(d).mkdirs())

    // (seconds, stages, tasks, taskMs) of each entry's fastest pass
    val fastest = mutable.Map.empty[String, (Double, Int, Int, Long)]
    def window(name: String, pass: Int, sec: Double): Unit =
      if (pass == 0) plansDir.foreach { d =>
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$d/$name.txt"), plan)
      } else if (fastest.get(name).forall(sec < _._1)) {
        // the listener is async; drain the bus deterministically so the
        // window's stage events are all counted (r21 ADVICE: a fixed
        // sleep under-counted on busy runs)
        SuiteHygiene.settle(spark.sparkContext)
        fastest(name) = (sec, stages.get, tasks.get, taskMs.get)
      }
    // the reset ends with a settle, so zeroing after it starts the next
    // window's counts clean
    def reset(): SuiteHygiene.Leftover = {
      val left = SuiteHygiene.reset(spark.sparkContext)
      stages.set(0); tasks.set(0); taskMs.set(0)
      left
    }
    val timings = Harness.time(names, passes, "probe")(
      Harness.run(spark, _, sfDir), () => reset(), window)
    timings.best.foreach { case (name, _) =>
      val (best, st, tk, ms) = fastest(name)
      println(f"[probe] $name%-36s ${best}%7.2f s  stages=$st%3d " +
        f"tasks=$tk%5d taskTime=${ms / 1000.0}%8.2f s")
    }
    timings.failed.foreach { case (name, e) => println(s"[probe] $name FAILED: $e") }
    spark.stop()
    if (timings.failed.nonEmpty) sys.exit(1)
  }
}
