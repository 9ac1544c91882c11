package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic inputs with the schemas of the engine's declared
  * tables (TPC-H-like star schema, `events`, `documents`, `embeddings`),
  * one parquet file per table named `<table>.parquet`, which is the layout
  * every declared query expects of its data directory.
  *
  * The data is a pure function of [[DataGen.Seed]] and the scale: it does
  * not depend on the workload seed, which picks only op order and op
  * parameters. So one generated directory serves every run: it is reused
  * while its `_COMPLETE` marker, written last, names the same scale.
  */
object DataGen {
  val Seed = 42L

  /** Row counts per table. `documents` and `embeddings` size the heavy
    * declared jobs; the TPC-H tables size the relational reads and the
    * DML tables (which are loaded from `orders`). */
  final case class Scale(orders: Int, lineitem: Int, customers: Int,
      parts: Int, suppliers: Int, users: Int, events: Int,
      documents: Int, embeddings: Int) {
    def tag: String =
      s"o$orders-l$lineitem-c$customers-p$parts-s$suppliers-e$events-d$documents-v$embeddings"
  }

  val Default: Scale = Scale(orders = 15000, lineitem = 60000,
    customers = 1500, parts = 2000, suppliers = 100, users = 150,
    events = 10000, documents = 600, embeddings = 600)

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("small", "red", "large", "blue", "shiny", "green", "old", "bright")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "panel", "valve", "spring", "lamp")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Words = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group", "big",
    "sort", "query", "fast", "the")
  private val Langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh")

  /** Generate into `dir` unless a complete copy is already there. */
  def ensure(spark: SparkSession, dir: Path, scale: Scale): Unit = {
    val marker = dir.resolve("_COMPLETE")
    if (Files.exists(marker) && Files.readString(marker).trim == scale.tag) return
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(Seed)
    tables(scale, rnd).foreach { case (name, schema, rows) =>
      writeSingleFile(spark, dir, name, schema, rows)
    }
    Files.writeString(marker, scale.tag + "\n")
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  private def tables(s: Scale, root: SplittableRandom)
      : Seq[(String, StructType, Seq[Row])] = {
    def f(name: String, t: DataType, nullable: Boolean = true) =
      StructField(name, t, nullable)
    val r = root.split()
    val region = (0 until 5).map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until s.customers).map(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999), Segments(r.nextInt(5))))
    val partPrice = (0 until s.parts).map(i => 900.0 + (i % 1000) / 10.0)
    val part = (0 until s.parts).map(i => Row(i.toLong,
      s"${Adjectives(r.nextInt(Adjectives.size))} ${Nouns(r.nextInt(Nouns.size))}",
      s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.size)),
      1 + r.nextInt(50), partPrice(i)))
    val supplier = (0 until s.suppliers).map(i => Row(i.toLong,
      f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999)))
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = (0 until s.orders).map(i => Row(i.toLong,
      r.nextInt(s.customers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      money(r, 1000, 500000), day(r, d0, 2404), Priorities(r.nextInt(5))))
    val lineitem = (0 until s.lineitem).map { _ =>
      val pk = r.nextInt(s.parts)
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(s.orders).toLong, pk.toLong, r.nextInt(s.suppliers).toLong,
        1 + r.nextInt(7), qty, math.round(qty * partPrice(pk) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        day(r, d0.plusDays(1), 2499))
    }
    var clock = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 24 * 3600 * 1000000 / s.events
    val events = (0 until s.events).map { i =>
      clock = clock.plusNanos((r.nextLong(2 * stepMicros) + 1) * 1000)
      Row(i.toLong, clock, r.nextInt(s.users).toLong,
        EventTypes(r.nextInt(EventTypes.size)), money(r, 0.01, 490),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    // Documents: random word streams; every 20th document repeats an
    // earlier one with " dup" appended, so the near-duplicate jobs find pairs.
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until s.documents).map { i =>
      val text =
        if (i >= 20 && i % 20 == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(70))(Words(r.nextInt(Words.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    // Embeddings: ten labelled clusters, unit-normalised centre plus noise.
    val dim = 64
    val centres = Array.fill(10)(Array.fill(dim)(r.nextDouble() * 2 - 1))
    val embeddings = (0 until s.embeddings).map { i =>
      val label = r.nextInt(10)
      val v = centres(label).map(c => 0.15 * c + 0.12 * gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))), embeddings))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms in (0, 1]
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Spark writes a directory of part files; the declared queries read
    * `<dir>/<table>.parquet` as one file, so keep the single part file. */
  private def writeSingleFile(spark: SparkSession, dir: Path, name: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val staging = dir.resolve(s"_staging_$name")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.walk(staging).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }
}
