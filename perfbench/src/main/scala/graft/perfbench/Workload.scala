package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graft.SuiteHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed op: `side` is `engine` for a statement through the graft
  * catalog and `raw` for its plain-parquet control. */
final case class OpResult(kind: String, side: String, ms: Double)

/** State shared by a workload and the runner. Ops run one at a time on the
  * calling thread: a single client in a closed loop. */
final class Ctx(val spark: SparkSession, val dataDir: String, val work: Path,
    val rng: SplittableRandom, val cores: Int) {
  var recorder: Option[Recorder] = None
  val timed = mutable.ArrayBuffer.empty[OpResult]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  private var opSeq = 0

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Run and time one op. A failure is counted and the op is not timed.
    * In a traced run, `after` (evaluated outside the op's interval) adds
    * counters that need the op's effect, such as a listing of the table. */
  def op(kind: String, side: String = "engine", writes: Boolean = false,
      after: () => Map[String, Double] = () => Map.empty)(body: => Unit): Boolean = {
    attempted += 1
    opSeq += 1
    recorder.foreach(_.begin(opSeq, kind, side))
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case NonFatal(e) => fail(s"$side $kind: ${describe(e)}"); false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    recorder.foreach { r =>
      val end = r.clock()
      r.end(end, writes, if (ok) after() else Map.empty)
    }
    if (ok) timed += OpResult(kind, side, ms)
    reset()
    ok
  }

  /** Reset the session between ops, outside the timed window, the way the
    * engine's own bench does: unpersist, then drain dead shuffles and
    * broadcasts and settle the listener bus synchronously, so no cleanup
    * left by one op runs inside the next one's window. */
  def reset(): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SuiteHygiene.drain(sc)
    SuiteHygiene.settle(sc)
  }

  /** An untimed correctness gate; `body` returns a description of the
    * mismatch, if any. It counts as an attempted op, and a mismatch or an
    * exception as a failed one. */
  def check(name: String)(body: => Option[String]): Boolean = {
    attempted += 1
    val problem = try body catch { case NonFatal(e) => Some(describe(e)) }
    problem.foreach(p => fail(s"check $name: $p"))
    problem.isEmpty
  }

  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Build a read's DataFrame, which resolves and analyzes it. Traced as a
    * `plans.analysis` span: the query execution of the noop write that
    * runs it starts from the analyzed plan and records no analysis. */
  def analyzed(build: => DataFrame): DataFrame =
    recorder.fold(build)(_.span("plans.analysis", "dataframe")(build))

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Picks uniformly from `xs` with the workload's seeded generator. */
  def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** The end-to-end numbers a workload reports besides set-up time and
  * memory, and human-readable lines for the report. */
final case class Outcome(opMs: Seq[Double], opsPerSec: Double, engineRawRatio: Double,
    report: Seq[(String, Double, String)])

trait Workload {
  def name: String
  /** Untimed: tables and inputs the timed ops need. */
  def prepare(ctx: Ctx): Unit
  /** Untimed: first execution of every op shape, with correctness gates. */
  def warmup(ctx: Ctx): Unit
  /** One unit of the closed loop (an ABBA pair, a statement or a pass). */
  def step(ctx: Ctx): Unit
  /** Untimed: end-of-run correctness gates. */
  def finish(ctx: Ctx): Unit = ()
  /** The end-to-end figures come from the first this many timed steps,
    * so every run reports on the same amount of work in the same place
    * after warm-up; the loop still runs whole steps until `--seconds`. */
  def countedSteps: Int
  def outcome(ctx: Ctx, ops: Seq[OpResult]): Outcome
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "interactive_read" -> (() => new InteractiveRead),
    "dml_lifecycle" -> (() => new DmlLifecycle),
    "pipeline_batch" -> (() => new PipelineBatch))

  /** ABBA alternation: even pairs run the engine first, odd pairs the raw
    * control first, so a drift in the machine's speed lands on both sides
    * equally over every two pairs. */
  def engineFirst(pair: Int): Boolean = pair % 2 == 0

  /** Run an engine op and its raw control back to back in ABBA order;
    * `after` adds traced counters to the engine side. */
  def abba(ctx: Ctx, pair: Int, kind: String,
      after: () => Map[String, Double] = () => Map.empty)(engine: => Unit)(raw: => Unit): Unit = {
    def e(): Unit = ctx.op(kind, "engine", after = after)(engine)
    def r(): Unit = ctx.op(kind, "raw")(raw)
    if (engineFirst(pair)) { e(); r() } else { r(); e() }
  }

  /** Σ engine ÷ Σ raw over the timed ops. */
  def ratio(ops: Seq[OpResult]): Double = {
    val e = ops.filter(_.side == "engine").map(_.ms).sum
    val r = ops.filter(_.side == "raw").map(_.ms).sum
    if (r > 0) e / r else Double.NaN
  }
}
