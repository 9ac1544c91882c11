package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

import graft.GraftBootstrap

/** A seeded stream of DML statements against one merge-on-read keyed
  * partitioned table and one copy-on-write partitioned table, both loaded
  * from `orders`, in blocks of twelve statements that end with a compaction
  * of each table, so deletion vectors stack and fold in every block.
  *
  * An in-memory [[DmlModel]] of each table gives every read its expected
  * answer. The end-of-run gates compare the model with the final tables,
  * with a `VERSION AS OF` read of a mid-run snapshot, and with a read
  * through a second, freshly initialised catalog over the same warehouse.
  */
final class DmlLifecycle extends Workload {
  import DmlLifecycle._
  val name = "dml_lifecycle"

  private val Cat = GraftBootstrap.CatalogName
  private val tables = Seq("mor", "cow")
  private def qualified(t: String) = s"$Cat.bench.$t"
  private var models = Map.empty[String, DmlModel]
  private var nextKey = 0L
  private var stmtNo = 0
  private var readNo = 0
  private var blockNo = 0
  private var locations = Map.empty[String, Path]
  private var listing = Map.empty[String, Map[String, Long]]
  /** Plain parquet copy of each table's live rows as of its last compaction:
    * the raw control of the aggregate reads. */
  private var rawCopy = Map.empty[String, Int]
  // the mid-run snapshot: MOR model rows and the snapshot version they match
  private var pinned: Option[(Long, Map[Long, OrderRow], Int)] = None
  private var pinnedChecked = false

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    GraftBootstrap.ensure(spark, ctx.dataDir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.bench")
    val src = spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         |FROM $Cat.${GraftBootstrap.Namespace}.orders""".stripMargin)
    val rows = src.collect().map(r => OrderRow(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getString(4)))
    nextKey = rows.map(_.key).max + 1
    src.createOrReplaceTempView("bench_orders")
    tables.foreach { t =>
      val mode = if (t == "mor")
        "'graft.dml.mode'='merge-on-read', 'graft.dml.key'='o_orderkey'"
      else "'graft.dml.mode'='copy-on-write'"
      spark.sql(
        s"""CREATE TABLE ${qualified(t)} (o_orderkey BIGINT NOT NULL, o_custkey BIGINT,
           |  o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING)
           |PARTITIONED BY (o_orderpriority) TBLPROPERTIES ($mode)""".stripMargin)
      spark.sql(s"INSERT INTO ${qualified(t)} SELECT * FROM bench_orders")
      val cat = spark.sessionState.catalogManager.catalog(Cat).asInstanceOf[TableCatalog]
      val loc = cat.loadTable(Identifier.of(Array("bench"), t)).properties()
        .get(TableCatalog.PROP_LOCATION)
      locations += t -> Paths.get(new java.net.URI(
        if (loc.contains(":")) loc else "file:" + loc))
      listing += t -> files(locations(t))
      writeRawCopy(ctx, t)
    }
    models = tables.map(t => t -> new DmlModel(rows)).toMap
  }

  private def writeRawCopy(ctx: Ctx, t: String): Unit = {
    val gen = rawCopy.getOrElse(t, -1) + 1
    val dir = ctx.work.resolve(s"raw/${t}_$gen").toString
    ctx.spark.table(qualified(t)).write.partitionBy("o_orderpriority").parquet(dir)
    ctx.spark.read.parquet(dir).createOrReplaceTempView(s"raw_$t")
    rawCopy += t -> gen
  }

  /** Data files (name → bytes) under a table directory, leaving out the
    * retirement area and snapshot manifests. */
  private def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.split('/')
          .exists(_.startsWith(graft.catalog.Snapshots.RetiredDirName)))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap

  private def bytes(root: Path): Long =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The next block of the seeded stream: a MOR read at compaction depth
    * zero, the block's DML and the CoW read in seeded order, a MOR read at
    * full deletion-vector depth, then a compaction of each table. Every
    * block has the same composition; the seed picks the order, and each
    * statement's parameters are drawn when it runs, from the live model. */
  private def block(ctx: Ctx): Seq[(String, () => Stmt)] = {
    def fresh(n: Int): Seq[OrderRow] = (0 until n).map { _ =>
      nextKey += 1
      OrderRow(nextKey - 1, ctx.rng.nextLong(10000), ctx.pick(Statuses),
        price(ctx), ctx.pick(Priorities))
    }
    def update(t: String) = t -> { () =>
      val lo = ctx.rng.nextLong(nextKey)
      Stmt.Update(lo, lo + nextKey / 200, ctx.pick(Deltas), ctx.pick(Statuses))
    }
    def delete(t: String) = t -> { () =>
      val lo = ctx.rng.nextLong(nextKey)
      Stmt.Delete(lo, lo + nextKey / 500)
    }
    // ten live keys, repriced, and ten new ones
    def merge(t: String) = t -> { () =>
      val rows = models(t).rows
      val keys = rows.keys.toIndexedSeq
      val old = Seq.fill(10)(keys(ctx.rng.nextInt(keys.size))).distinct
        .map(k => rows(k).copy(price = price(ctx), status = ctx.pick(Statuses)))
      Stmt.Merge(old ++ fresh(10))
    }
    def fixed(t: String, s: => Stmt) = t -> (() => s)
    val middle = ctx.shuffle(Seq(update("mor"), delete("mor"), merge("mor"),
      fixed("mor", Stmt.Insert(fresh(20))), fixed("cow", Stmt.Read()), update("cow"),
      merge("cow"), fixed("cow", Stmt.Overwrite(ctx.pick(Priorities), ctx.pick(Factors)))))
    fixed("mor", Stmt.Read()) +: middle :+ fixed("mor", Stmt.Read()) :+
      fixed("cow", Stmt.Compact()) :+ fixed("mor", Stmt.Compact())
  }

  private def price(ctx: Ctx): Double =
    (BigDecimal(100000 + ctx.rng.nextLong(50000000)) / 100).toDouble

  private def run(ctx: Ctx, t: String, s: Stmt): Unit = {
    val model = models(t)
    s match {
      case Stmt.Read() =>
        var got: Option[Array[Row]] = None
        val files = () => Map("table.files" -> this.files(locations(t)).size.toDouble)
        Workload.abba(ctx, readNo, s"${t}_read", files) {
          got = Some(ctx.spark.sql(s.sql(qualified(t))).collect())
        } {
          ctx.spark.sql(s.sql(s"raw_$t")).collect()
        }
        readNo += 1
        got.foreach(checkAggregate(ctx, t, _, model.aggregate))
      case _ =>
        val (after, changed) = model.applied(s)
        if (ctx.recorder.isDefined) listing += t -> files(locations(t))
        val ok = ctx.op(s"${t}_${s.kind}", writes = true, after = () => traced(t, s, changed)) {
          ctx.spark.sql(s.sql(qualified(t))).collect()
        }
        if (ok) {
          model.commit(after)
          if (s.isInstanceOf[Stmt.Compact]) writeRawCopy(ctx, t)
        }
    }
  }

  /** Counters for a traced run, from listings of the table directory
    * before and after the statement. */
  private def traced(t: String, s: Stmt, changed: Int): Map[String, Double] = {
    val before = listing(t)
    val after = files(locations(t))
    listing += t -> after
    val written = after.collect { case (f, b) if !before.contains(f) => b }.sum.toDouble
    Map("table.files" -> after.size.toDouble, "write.bytes_written" -> written,
      "write.rows_changed" -> changed.toDouble) ++ (s match {
        case Stmt.Compact() => Map("maintenance.compact_bytes_rewritten" -> written)
        case _ => Map.empty[String, Double]
      })
  }

  private def checkAggregate(ctx: Ctx, t: String, got: Array[Row],
      expected: Map[String, (Long, Long, Double)]): Unit =
    ctx.check(s"$t read = model") {
      val g = got.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val bad = (g.keySet ++ expected.keySet).filter { p =>
        (g.get(p), expected.get(p)) match {
          case (Some((n1, k1, p1)), Some((n2, k2, p2))) =>
            n1 != n2 || k1 != k2 || math.abs(p1 - p2) > 1e-9 * math.max(1.0, math.abs(p2))
          case _ => true
        }
      }
      if (bad.isEmpty) None
      else Some(s"priorities ${bad.mkString(",")}: got ${bad.map(g.get)} expected ${bad.map(expected.get)}")
    }

  /** Two blocks: every statement shape runs, and both tables go through
    * two compactions, before timing starts. */
  def warmup(ctx: Ctx): Unit = { step(ctx); step(ctx) }

  def step(ctx: Ctx): Unit = {
    block(ctx).zipWithIndex.foreach { case ((t, s), i) =>
      stmtNo += 1
      run(ctx, t, s())
      // pin the MOR table two statements after its first compaction (in the
      // second warm-up block) and read the pin back by `VERSION AS OF`
      // three statements later, well within the retained lineage
      if (blockNo == 1 && i == 1) pinned = Some((snapshotVersion(ctx), models("mor").rows, stmtNo))
      pinned.foreach { case (_, _, at) => if (!pinnedChecked && stmtNo == at + 3) checkPinned(ctx) }
    }
    blockNo += 1
  }

  private def snapshotVersion(ctx: Ctx): Long =
    ctx.spark.sql(s"SELECT max(version) FROM $Cat.bench.`mor$$snapshots`").head().getLong(0)

  private def checkPinned(ctx: Ctx): Unit = {
    pinnedChecked = true
    val (version, rows, _) = pinned.get
    ctx.check("mor VERSION AS OF mid-run snapshot = model") {
      val back = ctx.spark.sql(s"SELECT versions_back FROM $Cat.bench.`mor$$snapshots` " +
        s"WHERE version = $version").collect()
      if (back.isEmpty) Some(s"snapshot version $version is no longer retained")
      else {
        val n = back.head.getLong(0)
        val rel = if (n == 0) qualified("mor") else s"${qualified("mor")} VERSION AS OF $n"
        compareRows(ctx, rel, rows)
      }
    }
  }

  private def compareRows(ctx: Ctx, rel: String, expected: Map[Long, OrderRow]): Option[String] = {
    val got = ctx.spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      s"o_orderpriority FROM $rel").collect()
      .map(r => OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
    val want = expected.values.toSet
    val have = got.toSet
    if (got.length == want.size && have == want) None
    else Some(s"$rel: ${got.length} rows, expected ${want.size}; " +
      s"${want.diff(have).size} missing (first ${want.diff(have).headOption}), " +
      s"${have.diff(want).size} unexpected (first ${have.diff(want).headOption})")
  }

  override def finish(ctx: Ctx): Unit = {
    tables.foreach { t =>
      ctx.check(s"$t final read = model")(compareRows(ctx, qualified(t), models(t).rows))
    }
    // a second catalog over the same warehouse, initialised now: what it
    // reads comes from the bytes on disk alone
    val fresh = "graft_fresh"
    ctx.spark.conf.set(s"spark.sql.catalog.$fresh", classOf[graft.catalog.GraftCatalog].getName)
    ctx.spark.conf.set(s"spark.sql.catalog.$fresh.warehouse",
      ctx.spark.conf.get(s"spark.sql.catalog.$Cat.warehouse"))
    tables.foreach { t =>
      ctx.check(s"$t read through a fresh catalog = model")(
        compareRows(ctx, s"$fresh.bench.$t", models(t).rows))
    }
  }

  val countedSteps = 4

  def outcome(ctx: Ctx, ops: Seq[OpResult]): Outcome = {
    val engine = ops.filter(_.side == "engine")
    val writes = engine.filter(o => WriteKinds.exists(k => o.kind.endsWith(k)))
    val merges = engine.filter(_.kind.endsWith("_merge")).map(_.ms)
    val reads = engine.filter(_.kind == "mor_read").map(_.ms)
    val live = ctx.work.resolve("raw/live")
    val liveBytes = tables.map { t =>
      val dir = live.resolve(t).toString
      ctx.spark.table(qualified(t)).write.parquet(dir)
      bytes(live.resolve(t))
    }.sum
    val amp = tables.map(t => bytes(locations(t))).sum.toDouble / liveBytes
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Outcome(engine.map(_.ms), engine.size / (engine.map(_.ms).sum / 1000),
      Workload.ratio(ops.filter(_.kind.endsWith("_read"))), Seq(
        ("dml_ops_per_s", engine.size / (engine.map(_.ms).sum / 1000), "1/s"),
        ("write_p50_ms", p50(writes.map(_.ms)), "ms"),
        ("merge_p50_ms", p50(merges), "ms"),
        ("mor_read_p50_ms", p50(reads), "ms"),
        ("dml_storage_amp", amp, "ratio"),
        ("statements", stmtNo.toDouble, "count")))
  }
}

object DmlLifecycle {
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Deltas = Seq(0.25, 1.5, -0.75, 10.0)
  val Factors = Seq(1.01, 0.99, 1.1)
  val WriteKinds = Seq("_insert", "_update", "_delete", "_merge", "_overwrite")
}
