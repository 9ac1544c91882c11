package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{GraftBootstrap, SparkEntry, Tables}

/** Short reads, each run through the engine and through its raw-parquet
  * control back to back, in ABBA order.
  *
  * A deck holds the declared relational reads plus generated statements:
  * pruning reads over a partitioned skip-stats table and time-travel reads
  * over a table with three commits. Each deck is shuffled by the seed, and
  * the generated statements take seeded parameters. The raw controls read
  * plain parquet copies of the same rows with no catalog. */
final class InteractiveRead extends Workload {
  val name = "interactive_read"

  /** Declared queries that read the fixtures directly (no temp views, no
    * writes), so the engine/raw switch costs nothing per op. */
  private val Declared = Seq("q02_agg_tpch1", "q03_join_broadcast", "q05_join_multiway",
    "q06_semi_join", "q09_distinct_agg", "q13_window_rank", "q16_topk")

  private val Ns = s"${GraftBootstrap.CatalogName}.bench"
  private var maxKey = 0L

  private final case class Read(kind: String, engine: () => DataFrame, raw: () => DataFrame)

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    GraftBootstrap.ensure(spark, ctx.dataDir)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Ns")
    val li = Tables(spark, ctx.dataDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    maxKey = li.agg(org.apache.spark.sql.functions.max("l_orderkey")).head().getLong(0)
    val raw = ctx.work.resolve("raw")
    // pruning: partitioned by return flag, files range-split on the key,
    // skip-stats on the key
    val skip = li.repartitionByRange(8, col("l_orderkey"))
    skip.writeTo(s"$Ns.li_skip").partitionedBy(col("l_returnflag"))
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey").create()
    skip.write.partitionBy("l_returnflag").parquet(raw.resolve("li_skip").toString)
    spark.read.parquet(raw.resolve("li_skip").toString).createOrReplaceTempView("raw_li_skip")
    // time travel: create, append, overwrite; VERSION AS OF 1 is the table
    // before the overwrite and VERSION AS OF 2 before the append
    val versions = Seq(
      li.filter(col("l_orderkey") % 3 === 0),
      li,
      li.filter(col("l_partkey") % 2 === 0))
    li.filter(col("l_partkey") % 2 === 0).writeTo(s"$Ns.li_hist").create()
    li.filter(col("l_partkey") % 2 === 1).writeTo(s"$Ns.li_hist").append()
    li.filter(col("l_orderkey") % 3 === 0).writeTo(s"$Ns.li_hist")
      .overwrite(org.apache.spark.sql.functions.lit(true))
    versions.zipWithIndex.foreach { case (df, v) =>
      val p = raw.resolve(s"li_hist_v$v").toString
      df.write.parquet(p)
      spark.read.parquet(p).createOrReplaceTempView(s"raw_li_hist_v$v")
    }
  }

  private def declared(ctx: Ctx, q: String): Read = {
    def run(rawMode: Boolean): DataFrame = {
      Tables.setRawMode(rawMode)
      SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
    }
    Read(q, () => run(false), () => run(true))
  }

  private def generated(ctx: Ctx, kind: String, sql: String => String,
      engineRel: String, rawRel: String): Read =
    Read(kind, () => { Tables.setRawMode(false); ctx.spark.sql(sql(engineRel)) },
      () => ctx.spark.sql(sql(rawRel)))

  /** A read of a seeded 2% key range, optionally also pinned to one
    * partition. */
  private def pruning(ctx: Ctx, pinned: Boolean): Read = {
    val width = maxKey / 50
    val lo = ctx.rng.nextLong(math.max(1L, maxKey - width))
    val flag = if (pinned) s" AND l_returnflag = '${ctx.pick(Seq("A", "N", "R"))}'" else ""
    generated(ctx, "prune_read", rel =>
      s"""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty,
         |  sum(l_extendedprice) AS price FROM $rel
         |WHERE l_orderkey BETWEEN $lo AND ${lo + width}$flag
         |GROUP BY l_returnflag""".stripMargin, s"$Ns.li_skip", "raw_li_skip")
  }

  private def timeTravel(ctx: Ctx, v: Int): Read = {
    val part = 1 + ctx.rng.nextLong(math.max(1L, maxKey))
    generated(ctx, "time_travel_read", rel =>
      s"""SELECT count(*) AS n, sum(l_quantity) AS qty,
         |  sum(l_orderkey % 999983) AS key_checksum FROM $rel
         |WHERE l_orderkey < $part""".stripMargin,
      s"$Ns.li_hist VERSION AS OF $v", s"raw_li_hist_v$v")
  }

  /** Every deck has the same composition; the seed picks the order and the
    * generated statements' parameters. */
  private def deck(ctx: Ctx): Seq[Read] =
    ctx.shuffle(Declared.map(declared(ctx, _)) ++
      Seq(pruning(ctx, pinned = false), pruning(ctx, pinned = false), pruning(ctx, pinned = true),
        timeTravel(ctx, 1), timeTravel(ctx, 2)))

  /** A gated deck, then one untimed deck as the timed loop runs it, so
    * timing starts past the steepest part of the JIT warm-up. */
  def warmup(ctx: Ctx): Unit = {
    deck(ctx).foreach { r =>
      ctx.check(s"${r.kind} engine = raw") {
        val engine = Canon.of(r.engine())
        ctx.reset()
        val raw = Canon.of(r.raw())
        ctx.reset()
        Canon.diff(raw, engine)
      }
    }
    step(ctx)
  }

  private var pair = 0

  /** One whole deck, so every run times the same mix of reads. */
  def step(ctx: Ctx): Unit =
    deck(ctx).foreach { r =>
      Workload.abba(ctx, pair, r.kind)(ctx.drain(ctx.analyzed(r.engine())))(
        ctx.drain(ctx.analyzed(r.raw())))
      pair += 1
    }

  val countedSteps = 4

  def outcome(ctx: Ctx, ops: Seq[OpResult]): Outcome = {
    val engine = ops.filter(_.side == "engine").map(_.ms)
    Outcome(engine, engine.size / (engine.sum / 1000), Workload.ratio(ops), Seq(
      ("read_p50_ms", Stats.median(engine), "ms"),
      ("read_engine_raw_ratio", Workload.ratio(ops), "ratio"),
      ("read_pairs", engine.size.toDouble, "count")))
  }
}
