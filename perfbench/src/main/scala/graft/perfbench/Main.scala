package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftBootstrap

/** One run of one workload in this JVM:
  *
  *  1. set-up, [[Main.SetupRounds]] times: build the session and register
  *     the engine's tables (`GraftBootstrap.ensure`); the first round counts
  *     from JVM start;
  *  2. the workload's untimed preparation and warm-up, with its
  *     correctness gates;
  *  3. the closed loop for `--seconds` (and at least the workload's
  *     counted steps), untraced; with `--trace 1`
  *     untraced and traced steps alternate, and the traced steps give the
  *     per-layer metrics;
  *  4. the end-of-run gates, the report, and the result as the last line.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --work <dir> --out <dir>`: generated tables in `--data`,
  * the run's tables and scratch space in `--work`, the span dump of a
  * traced run in `--out`. Spark runs on as many cores as the JVM may use.
  */
object Main {
  val SetupRounds = 5

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.all.contains(w),
      s"unknown workload $w; one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("data")), Paths.get(need("work")), Paths.get(need("out")))
  }

  private def now(): Double = System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opts = parse(args)
    val workload = Workload.all(opts.workload)()
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(opts.work)

    // 1. set-up rounds; data generation (first run in a checkout only) is
    // excluded from the first round
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 0 until SetupRounds) {
      val t0 = now()
      val sinceJvm = if (round == 0) System.currentTimeMillis() - jvmStartMs else 0.0
      spark = Session.build(cores, opts.work)
      val g0 = now()
      if (round == 0) DataGen.ensure(spark, opts.data, DataGen.Default)
      val gen = now() - g0
      if (opts.trace) Session.useTimedCatalog(spark)
      GraftBootstrap.ensure(spark, opts.data.toString)
      setupS += (sinceJvm + now() - t0 - gen) / 1000
      if (round < SetupRounds - 1) Session.stop(spark)
    }

    val ctx = new Ctx(spark, opts.data.toString, opts.work,
      new SplittableRandom(opts.seed), cores)
    workload.prepare(ctx)
    val w0 = now()
    workload.warmup(ctx)
    val warmupS = (now() - w0) / 1000
    ctx.timed.clear()

    val stepP50 = mutable.ArrayBuffer.empty[Double]
    val stepEnds = mutable.ArrayBuffer.empty[Int]
    def loop(ms: Double, minSteps: Int = 1, maxSteps: Int = Int.MaxValue): (Int, Double) = {
      val start = now()
      var steps = 0
      while (steps < maxSteps && (steps < minSteps || now() - start < ms)) {
        val before = ctx.timed.size
        workload.step(ctx)
        val engine = ctx.timed.drop(before).filter(_.side == "engine").map(_.ms).toSeq
        if (engine.nonEmpty) stepP50 += Stats.median(engine)
        stepEnds += ctx.timed.size
        steps += 1
      }
      (steps, now() - start)
    }

    val (untraced, traced, overhead) =
      if (!opts.trace) {
        loop(opts.seconds * 1000, minSteps = workload.countedSteps)
        (ctx.timed.take(stepEnds(workload.countedSteps - 1)).toSeq, Seq.empty[OpTrace], 0.0)
      } else {
        // untraced and traced steps alternate, ending on a traced one, so
        // warm-up drift lands on both sides of the overhead ratio
        val recorder = new Recorder(spark)
        val plain = mutable.ArrayBuffer.empty[OpResult]
        val wall = Array(0.0, 0.0)
        val start = now()
        var i = 0
        while (i < 2 || i % 2 == 1 || now() - start < opts.seconds * 1000) {
          val tracing = i % 2 == 1
          if (tracing) { recorder.install(); ctx.recorder = Some(recorder) }
          val before = ctx.timed.size
          wall(i % 2) += loop(0, 1, 1)._2
          if (tracing) { ctx.recorder = None; recorder.uninstall() }
          else plain ++= ctx.timed.drop(before)
          i += 1
        }
        (plain.toSeq, recorder.traces.toSeq, wall(1) / wall(0))
      }

    workload.finish(ctx)
    val outcome = workload.outcome(ctx, untraced)
    val rssMb = peakRssMb()
    val heapMb = retainedHeapMb()

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val (tailP, tailMs, n) =
      if (outcome.opMs.isEmpty) (50.0, 0.0, 0) else Stats.tail(outcome.opMs)
    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("op_p50_ms", if (n == 0) 0.0 else Stats.median(outcome.opMs), "ms"),
      ("op_tail_ms", tailMs, "ms"),
      ("engine_raw_ratio", outcome.engineRawRatio, "ratio"))
    val failedShare = ctx.failures.size.toDouble / math.max(1, ctx.attempted)
    val report = e2e ++ outcome.report ++ Seq(
      ("ops_per_s", outcome.opsPerSec, "1/s"),
      ("steps", stepEnds.size.toDouble, "count"),
      ("setup_cold_s", setupS.head, "s"),
      ("peak_rss_mb", rssMb, "MB"),
      ("failed_share", failedShare, "ratio"),
      ("warmup_s", warmupS, "s"))
    println(s"workload ${opts.workload} seed ${opts.seed} cores ${cores} " +
      s"seconds ${opts.seconds} trace ${if (opts.trace) 1 else 0}")
    println(f"op_tail_ms is p${tailP}%.1f of $n samples")
    report.foreach { case (k, v, u) => println(s"metric $k ${fmt(v)} $u") }
    println(s"engine p50 per step (ms): ${stepP50.map(v => f"$v%.1f").mkString(" ")}")
    if (opts.trace) {
      val layers = TraceReport.metrics(traced, cores) ++ Seq(
        ("trace.overhead_ratio", overhead, "ratio"), ("warmup_s", warmupS, "s"))
      TraceReport.selfTimeTable(traced).foreach(println)
      TraceReport.timeline(traced).foreach(println)
      val file = opts.out.resolve(s"trace-${opts.workload}-${opts.seed}.json")
      TraceReport.write(file, traced)
      println(s"spans written to $file")
      layers.foreach { case (k, v, u) => println(s"layer $k ${fmt(v)} $u") }
      out ++= layers
    } else out ++= e2e
    ctx.failures.foreach(f => println(s"failure $f"))
    Session.stop(spark)
    val metrics = out.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${ctx.failures.isEmpty}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failures.size}, "metrics": $metrics}""")
  }

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))

  /** Heap still in use after full collections at the end of the run: the
    * state the session and the engine keep. */
  private def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The JVM's peak resident set, from the kernel's high-water mark. */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
