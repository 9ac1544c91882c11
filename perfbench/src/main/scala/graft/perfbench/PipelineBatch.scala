package graft.perfbench

import graft.{SparkEntry, Tables}

/** Passes of heavy declared jobs (near-duplicate detection, connected
  * components, embedding LSH, TF-IDF), each pass in a seeded
  * order, each job run through the engine and through the raw-parquet
  * control in ABBA order. Only whole passes are timed.
  *
  * Between jobs, outside the timed ops, the session is reset the way the
  * engine's own bench does it ([[Ctx.reset]]). A persistent RDD that
  * survives the reset fails the run. */
final class PipelineBatch extends Workload {
  val name = "pipeline_batch"

  val Jobs = Seq("q28_dedup_jaccard", "q55_dedup_clusters", "q38b_dedup_embedding_lsh",
    "q63_tfidf_topk")

  private var pair = 0
  private val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(ctx: Ctx): Unit = graft.GraftBootstrap.ensure(ctx.spark, ctx.dataDir)

  private def job(ctx: Ctx, q: String, raw: Boolean) = {
    Tables.setRawMode(raw)
    SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
  }

  /** Every op ends with [[Ctx.reset]]; after each job pair, check that it
    * left nothing persistent behind. */
  private def reset(ctx: Ctx): Unit = {
    ctx.reset()
    val sc = ctx.spark.sparkContext
    ctx.check("no persistent RDD survives the reset") {
      val left = sc.getPersistentRDDs
      if (left.isEmpty) None else Some(s"${left.size} persistent RDDs: ${left.keys.mkString(",")}")
    }
  }

  def warmup(ctx: Ctx): Unit =
    ctx.shuffle(Jobs).foreach { q =>
      ctx.check(s"$q engine = raw") {
        val engine = Canon.of(job(ctx, q, raw = false))
        reset(ctx)
        val raw = Canon.of(job(ctx, q, raw = true))
        reset(ctx)
        Canon.diff(raw, engine)
      }
    }

  def step(ctx: Ctx): Unit = {
    var engineMs = 0.0
    ctx.shuffle(Jobs).foreach { q =>
      val before = ctx.timed.size
      Workload.abba(ctx, pair, q) {
        ctx.drain(job(ctx, q, raw = false))
      } {
        ctx.drain(job(ctx, q, raw = true))
      }
      engineMs += ctx.timed.drop(before).filter(_.side == "engine").map(_.ms).sum
      pair += 1
      reset(ctx)
    }
    passMs += engineMs
  }

  val countedSteps = 1

  def outcome(ctx: Ctx, ops: Seq[OpResult]): Outcome = {
    val engine = ops.filter(_.side == "engine").map(_.ms)
    Outcome(engine, engine.size / (engine.sum / 1000), Workload.ratio(ops), Seq(
      ("pipeline_pass_s", Stats.median(passMs.toSeq) / 1000, "s"),
      ("passes", passMs.size.toDouble, "count")))
  }
}
