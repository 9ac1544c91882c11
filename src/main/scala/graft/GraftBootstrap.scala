package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform

import graft.catalog.GraftCatalog

/** Session wiring for the graft catalog: registers
  * `spark.sql.catalog.graft` and creates EXTERNAL tables over the
  * driver-generated parquet fixtures (FIXTURES.md "registration pattern"),
  * so every query resolves `graft.tpch.<table>` through the DSv2 path —
  * catalog → GraftTable → ParquetScanBuilder — instead of raw
  * `spark.read.parquet`.
  *
  * Registration is idempotent and cached per (session, sfDir); switching
  * scale factors re-registers the tables at the new locations.
  */
object GraftBootstrap {
  val CatalogName = "graft"
  val Namespace = "tpch"

  @volatile private var current: Set[(SparkSession, String)] = Set.empty

  /** Strip per-property SOURCE attribution from the root Hadoop conf.
    *
    * `Configuration.write` gzip-compresses each property's source array
    * (the "loaded from core-default.xml" diagnostic) — one single-use
    * Deflater stream per property, ~1,100 per serialization — and every
    * job that scans or writes files serializes the conf at least once
    * (`SerializableConfiguration` broadcast / task binary). Driver
    * thread-dump sampling during the q119 DML loop landed ~25% of
    * driver wall inside exactly this serialization. The sources feed
    * only `getPropertySources` (log diagnostics); with the map cleared,
    * write() emits a -1 vint per property instead of a gzip stream, and
    * readFields() on the task side skips the matching gunzip. Every
    * conf Spark derives per scan/write copies this map, so clearing the
    * ROOT once fixes all of them. Best-effort by reflection: a Hadoop
    * upgrade that renames the field skips the optimization, never
    * breaks. Known reversion window (r21 ADVICE): a later
    * `addResource`/`reloadConfiguration` on the JVM-wide conf
    * repopulates the source map and silently restores stock behavior —
    * acceptable for a best-effort diagnostics-only strip (correctness
    * is unaffected either way; `SPARK_GRAFT_KEEP_CONF_SOURCES=1`
    * restores stock deliberately). */
  private def stripConfSources(conf: org.apache.hadoop.conf.Configuration): Unit =
    try {
      if (sys.env.get("SPARK_GRAFT_KEEP_CONF_SOURCES").contains("1")) return
      conf.size() // force default resources into `properties` first — a
                  // later lazy load would repopulate the source map
      val f = classOf[org.apache.hadoop.conf.Configuration]
        .getDeclaredField("updatingResource")
      f.setAccessible(true)
      f.get(conf) match {
        case m: java.util.Map[_, _] => m.clear()
        case _ =>
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Dynamic confs every session needs for these fixtures (naive
    * timestamps + int64-ns `events.ts`, see Tables's scaladoc). */
  def setSessionConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    // Fork-free local chmod (see GraftLocalFileSystem). Advisory when set
    // this late — FileSystem instances are cached per scheme, so a JVM
    // that already resolved `file:` keeps the stock binding;
    // Harness.session sets the same key before first use.
    spark.conf.set("spark.hadoop.fs.file.impl",
      classOf[graft.catalog.GraftLocalFileSystem].getName)
    spark.conf.set("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.catalog.GraftLocalFs].getName)
    spark.sparkContext.hadoopConfiguration.setIfUnset("fs.file.impl",
      classOf[graft.catalog.GraftLocalFileSystem].getName)
    spark.sparkContext.hadoopConfiguration.setIfUnset(
      "fs.AbstractFileSystem.file.impl",
      classOf[graft.catalog.GraftLocalFs].getName)
    stripConfSources(spark.sparkContext.hadoopConfiguration)
    // Imperative twin of GraftExtensions' optimizer-rule injection, for
    // sessions built without it in spark.sql.extensions (a static conf):
    // the V2TableReference re-resolver that makes MERGE-from-a-temp-view
    // plannable (see ResolveStrandedTableReferences). A session with the
    // extension already runs the rule. ResolveDeletionVectors has no
    // twin: it must run before scan pushdown, which the user-provided
    // optimizer batch comes after, so only the extension installs it.
    val rule = org.apache.spark.sql.graft.ResolveStrandedTableReferences
    val extended = spark.conf.getOption("spark.sql.extensions").exists(
      _.split(",").map(_.trim).contains(classOf[GraftExtensions].getName))
    if (!extended && !spark.experimental.extraOptimizations.contains(rule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    }
  }

  def warehouseDir(spark: SparkSession): String =
    sys.props("java.io.tmpdir") + "/graft-warehouse-" +
      spark.sparkContext.applicationId

  def ensure(spark: SparkSession, sfDir: String): Unit = {
    if (current.contains((spark, sfDir))) return
    synchronized {
      if (current.contains((spark, sfDir))) return
      setSessionConfs(spark)
      spark.conf.set(s"spark.sql.catalog.$CatalogName", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$CatalogName.warehouse", warehouseDir(spark))
      val catalog = spark.sessionState.catalogManager
        .catalog(CatalogName).asInstanceOf[GraftCatalog]
      val ns = Array(Namespace)
      if (!catalog.namespaceExists(ns)) {
        catalog.createNamespace(ns, Map.empty[String, String].asJava)
      }
      Tables.all.foreach { name =>
        val ident = Identifier.of(ns, name)
        val location = s"$sfDir/$name.parquet"
        val stale = catalog.tableExists(ident) &&
          catalog.loadTable(ident).properties().get(TableCatalog.PROP_LOCATION) != location
        if (stale) catalog.dropTable(ident)
        if (stale || !catalog.tableExists(ident)) {
          val schema = spark.read.parquet(location).schema
          catalog.createTable(ident, schema, Array.empty[Transform],
            Map(
              TableCatalog.PROP_PROVIDER -> "parquet",
              TableCatalog.PROP_LOCATION -> location).asJava)
        }
      }
      // Registering for a new sfDir invalidates any other sfDir mapping for
      // the same session (the identifiers now resolve to the new data).
      current = current.filterNot(_._1 == spark) + ((spark, sfDir))
    }
  }
}
