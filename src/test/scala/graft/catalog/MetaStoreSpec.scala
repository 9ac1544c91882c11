package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** MetaStore persistence semantics: atomic descriptor writes, checked
  * renames, namespace guards — the invariants hardened in round 3 that
  * never had a test. Driver-side only; no SparkSession needed. */
class MetaStoreSpec extends AnyFunSuite {

  private def freshStore(): MetaStore = {
    val dir = Files.createTempDirectory("graft-metastore-spec").toString
    new MetaStore(new Path(dir), new Configuration())
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType)))

  private def meta(name: String, partCols: Seq[String] = Nil): TableMeta =
    TableMeta(name = name, schemaJson = schema.json, provider = "parquet",
      partitionColumns = partCols, location = s"/tmp/unused/$name",
      external = true, properties = Map("k" -> "v"), stats = None, partitions = Nil)

  test("save/load round-trip preserves schema, partitions, props, stats") {
    val s = freshStore()
    s.createNamespace("db", Map("owner" -> "me"))
    val m = meta("t", partCols = Seq("p")).copy(
      stats = Some(TableStats(123L, Some(7L))),
      partitions = Seq(PartitionMeta(Map("p" -> "a"), None, 55L)))
    s.saveTable("db", m)
    val back = s.loadTable("db", "t")
    assert(back.schema === schema)
    assert(back.partitionColumns === Seq("p"))
    assert(back.properties === Map("k" -> "v"))
    assert(back.stats.contains(TableStats(123L, Some(7L))))
    assert(back.partitions === Seq(PartitionMeta(Map("p" -> "a"), None, 55L)))
  }

  test("round-trip preserves the round-18 lineage fields: snapshots, versions, creation, per-partition colStats") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    val cs = ColumnStatsMeta(ndv = 4L, nullCount = 1L,
      min = Some("a"), max = Some("z"), avgLen = Some(3L), maxLen = Some(9L),
      histogram = None)
    val m = meta("t2", partCols = Seq("p")).copy(
      createdAtMs = 1700000000123L,
      lastSnapshotVersion = 9L,
      snapshots = Seq(
        SnapshotMeta(9L, 1700000001000L, "append", "/x/snap-9.json"),
        SnapshotMeta(8L, 1700000000500L, "rewrite", "/x/snap-8.json")),
      partitions = Seq(
        PartitionMeta(Map("p" -> "a"), None, 55L, Some(7L), Map("id" -> cs)),
        PartitionMeta(Map("p" -> "b"), Some("/custom"), 66L)))
    s.saveTable("db", m)
    val back = s.loadTable("db", "t2")
    assert(back.createdAtMs === 1700000000123L)
    assert(back.lastSnapshotVersion === 9L)
    assert(back.snapshots === m.snapshots)
    assert(back.partitions === m.partitions,
      "per-partition colStats must survive the JSON round trip")
  }

  test("saveTable overwrite is atomic: reload sees old-or-new, never absent") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    s.saveTable("db", meta("t").copy(properties = Map("k" -> "v2")))
    assert(s.loadTable("db", "t").properties === Map("k" -> "v2"))
  }

  test("cross-driver CAS: a concurrent driver's descriptor write is never lost (rebase + retry)") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    // a SECOND DRIVER over the same warehouse: separate MetaStore
    // instance — in production a separate JVM, so no shared monitor
    val s2 = new MetaStore(s.warehouse, new Configuration())
    // interleave the other driver's commit between OUR load and OUR CAS
    // claim — the classic lost-update window. Under last-wins this
    // driver's save would silently erase driverB's property.
    var fired = false
    MetaStore.casTestHook = Some { attempts =>
      if (!fired && attempts == 0) {
        fired = true
        // bypass our monitor like a foreign JVM would: raw CAS write via
        // the second store's own updateTable (different monitor would be
        // ideal; the JVM-global map shares it, so write directly)
        val cur = s2.loadTable("db", "t")
        val updated = cur.copy(
          properties = cur.properties + ("driverB" -> "yes"),
          seq = cur.seq + 1)
        val markerPath = new Path(s2.warehouse, s"db/_meta/t.json.cas-${updated.seq}")
        val fs = markerPath.getFileSystem(new Configuration())
        val out = fs.create(markerPath, false)
        try out.write(MetaStore.toJson(updated).getBytes("UTF-8"))
        finally out.close()
        // driverB dies between claim and publish — roll-forward must
        // finish it AND our own update must rebase on top
      }
    }
    try {
      val merged = s.updateTable("db", "t")(m =>
        m.copy(properties = m.properties + ("driverA" -> "yes")))
      assert(merged.properties.get("driverA").contains("yes"))
      assert(merged.properties.get("driverB").contains("yes"),
        "the concurrent driver's write must survive (lost-update impossible)")
      assert(merged.seq === 2L, "both commits must consume a sequence number")
    } finally MetaStore.casTestHook = None
    // markers are consumed/reclaimed
    val fs = s.warehouse.getFileSystem(new Configuration())
    assert(!fs.listStatus(new Path(s.warehouse, "db/_meta"))
      .exists(_.getPath.getName.contains(".cas-")),
      "no CAS markers may linger after publication")
  }

  test("CAS stress: 100 racing updates across 4 threads and 2 store instances all land") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t"))
    val s2 = new MetaStore(s.warehouse, new Configuration())
    val stores = Seq(s, s2, s, s2)
    val threads = (0 until 4).map { ti =>
      new Thread(() => {
        (0 until 25).foreach { i =>
          stores(ti).updateTable("db", "t")(m =>
            m.copy(properties = m.properties + (s"k-$ti-$i" -> "1")))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val fin = s.loadTable("db", "t")
    val landed = fin.properties.keys.count(_.startsWith("k-"))
    assert(landed === 100, s"every racing update must land, got $landed")
    assert(fin.seq === 100L, "each update must consume exactly one sequence number")
  }

  test("CAS roll-forward publishes markers in NUMERIC seq order with per-publish re-checks") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t10").copy(seq = 8))
    // two complete markers above the descriptor: 'cas-10' sorts BEFORE
    // 'cas-9' lexicographically, so a name-ordered walk with a stale
    // pre-loop seq would publish 10 first and then OVERWRITE it with 9
    val dir = s.tableMetaFile("db", "t10").getParent
    val fs = dir.getFileSystem(new Configuration())
    def plant(m: TableMeta): Unit = {
      val out = fs.create(new Path(dir, s"t10.json.cas-${m.seq}"), false)
      try out.write(MetaStore.toJson(m).getBytes("UTF-8")) finally out.close()
    }
    plant(meta("t10").copy(properties = Map("v" -> "nine"), seq = 9))
    plant(meta("t10").copy(properties = Map("v" -> "ten"), seq = 10))
    // any updateTable rolls forward first; an unchanged return publishes
    // nothing of its own
    val rolled = s.updateTable("db", "t10")(m => m)
    assert(rolled.seq === 10L, s"descriptor must end at the NEWEST marker")
    assert(rolled.properties.get("v").contains("ten"),
      "the seq-10 state must win, not the lexicographically-later cas-9")
    // both markers reclaimed
    assert(!fs.exists(new Path(dir, "t10.json.cas-9")) &&
      !fs.exists(new Path(dir, "t10.json.cas-10")))
  }

  test("saveTable clears pending CAS markers (a restore must never be rolled over)") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("t11").copy(seq = 5))
    val dir = s.tableMetaFile("db", "t11").getParent
    val fs = dir.getFileSystem(new Configuration())
    val marker = new Path(dir, "t11.json.cas-9")
    val out = fs.create(marker, false)
    try out.write(MetaStore.toJson(
      meta("t11").copy(properties = Map("v" -> "stale"), seq = 9)).getBytes("UTF-8"))
    finally out.close()
    // the authoritative restore (seq REGRESSES to 3) must delete the
    // pending higher-seq marker, or the next updateTable would roll the
    // reversed state forward over it
    s.saveTable("db", meta("t11").copy(properties = Map("v" -> "restored"), seq = 3))
    assert(!fs.exists(marker), "restore must clear pending CAS markers")
    val after = s.updateTable("db", "t11")(m => m)
    assert(after.properties.get("v").contains("restored") && after.seq === 3L)
  }

  test("renameTable refuses an existing destination") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    s.saveTable("db", meta("a"))
    s.saveTable("db", meta("b"))
    intercept[Exception](s.renameTable("db", "a", "db", "b"))
    // both originals intact
    assert(s.listTables("db").toSet === Set("a", "b"))
  }

  test("partition schema resolution is case-insensitive") {
    val m = meta("t", partCols = Seq("P"))
    assert(m.partitionSchema.fieldNames.toSeq === Seq("p"))
    assert(m.dataSchema.fieldNames.toSeq === Seq("id"))
  }

  test("namespace emptiness drives the catalog's non-cascade drop guard") {
    val s = freshStore()
    s.createNamespace("db", Map.empty)
    assert(s.namespaceExists("db"))
    assert(s.namespaceIsEmpty("db"))
    s.saveTable("db", meta("t"))
    assert(!s.namespaceIsEmpty("db"))
    s.dropTable("db", "t", deleteData = false)
    assert(s.namespaceIsEmpty("db"))
  }

  test("updateTable serializes across stores opened via different spellings of one warehouse") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft-metastore-lock").toString
    // same warehouse, two spellings: the lock key must be FS-qualified
    // or these two stores race load-modify-save and lose updates
    val a = new MetaStore(new Path(dir), new Configuration())
    val b = new MetaStore(new Path(s"file://$dir"), new Configuration())
    a.createNamespace("db", Map.empty)
    a.saveTable("db", meta("t"))
    val writers = (0 until 40).map { i => Future {
      val store = if (i % 2 == 0) a else b
      store.updateTable("db", "t") { m =>
        m.copy(partitions = m.partitions :+
          PartitionMeta(Map("p" -> s"v$i"), None, i.toLong))
      }
    } }
    Await.result(Future.sequence(writers), 60.seconds)
    val specs = a.loadTable("db", "t").partitions.map(_.spec("p")).toSet
    assert(specs === (0 until 40).map(i => s"v$i").toSet,
      s"lost updates across store spellings: ${specs.size}/40 survived")
  }

  test("the shared JSON escaper round-trips quotes, backslashes and control chars") {
    val raw = "a\"b\\c\td\u0001e"
    val lit = GraftIO.jsonString(raw)
    assert(lit === "\"a\\\"b\\\\c\\td\\u0001e\"")
    org.json4s.jackson.JsonMethods.parse(s"""{"k":$lit}""") match {
      case org.json4s.JObject(List(("k", org.json4s.JString(back)))) => assert(back === raw)
      case other => fail(s"unexpected parse: $other")
    }
  }
}
