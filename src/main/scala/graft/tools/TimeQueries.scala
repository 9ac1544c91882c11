package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.SuiteHygiene
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Builder-side isolated timing probe (optimization-round inner loop):
  * run ONLY the named inventory entries with the bench's exact method
  * (noop sink, warm-up, min-of-N) in a fresh JVM, and report per query:
  * wall seconds, job/stage/task counts, summed task time, and (with
  * SPARK_GRAFT_PROBE_PLANS=dir) the `explain("formatted")` text.
  *
  * Args: sfDir name1 name2 ...  Env: SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_PROBE_PASSES (default 3), SPARK_GRAFT_PROBE_PLANS,
  * SPARK_GRAFT_RAW=1 for the raw side of a paired probe.
  *
  * This is a diagnosis tool, never the measurement of record — the
  * bench contract stays in [[graft.Bench]]. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.catalog.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.catalog.GraftLocalFs].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warm-up
      // the bench's between-windows reset, so a probe times what the
      // bench times
      SuiteHygiene.reset(spark.sparkContext)
      plansDir.foreach { d =>
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$d/$name.txt"), plan)
      }
      var best = Double.MaxValue
      var bestStats = (0, 0, 0L)
      for (_ <- 1 to passes) {
        stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        run()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) {
          best = sec
          // listener is async; drain the bus deterministically so the
          // just-finished pass's stage events are all counted (r21
          // ADVICE: a fixed sleep under-counted on busy runs)
          SuiteHygiene.settle(spark.sparkContext)
          bestStats = (stages.get, tasks.get, taskMs.get)
        }
        SuiteHygiene.reset(spark.sparkContext)
      }
      println(f"[probe] $name%-36s ${best}%7.2f s  stages=${bestStats._1}%3d " +
        f"tasks=${bestStats._2}%5d taskTime=${bestStats._3 / 1000.0}%8.2f s")
    }
    spark.stop()
  }
}
