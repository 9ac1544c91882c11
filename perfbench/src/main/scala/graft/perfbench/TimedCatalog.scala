package graft.perfbench

import java.util

import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, Table, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType

import graft.catalog.GraftCatalog

/** The graft catalog with every `TableCatalog` and `SupportsNamespaces`
  * call timed into the active [[Recorder]]. With no recorder installed
  * each call goes straight to the engine's implementation.
  *
  * Spark instantiates catalogs by class name, so the recorder is reached
  * through the companion. The session must load this class as the `graft`
  * catalog before `GraftBootstrap.ensure` runs: `ensure` resets the
  * catalog conf key to the engine's class, and only the instance already
  * cached by the catalog manager survives (see [[Session]]). */
class TimedCatalog extends GraftCatalog {
  import TimedCatalog.timed

  override def listTables(namespace: Array[String]): Array[Identifier] =
    timed("listTables")(super.listTables(namespace))
  override def loadTable(ident: Identifier): Table =
    timed("loadTable", load = true)(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    timed("loadTable", load = true)(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    timed("loadTable", load = true)(super.loadTable(ident, timestampMicros))
  override def tableExists(ident: Identifier): Boolean =
    timed("tableExists")(super.tableExists(ident))
  override def invalidateTable(ident: Identifier): Unit =
    timed("invalidateTable")(super.invalidateTable(ident))
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    timed("createTable")(super.createTable(ident, schema, partitions, properties))
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    timed("alterTable")(super.alterTable(ident, changes: _*))
  override def dropTable(ident: Identifier): Boolean =
    timed("dropTable")(super.dropTable(ident))
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    timed("renameTable")(super.renameTable(oldIdent, newIdent))
  override def listNamespaces(): Array[Array[String]] =
    timed("listNamespaces")(super.listNamespaces())
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    timed("listNamespaces")(super.listNamespaces(namespace))
  override def namespaceExists(namespace: Array[String]): Boolean =
    timed("namespaceExists")(super.namespaceExists(namespace))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    timed("loadNamespaceMetadata")(super.loadNamespaceMetadata(namespace))
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    timed("createNamespace")(super.createNamespace(namespace, metadata))
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    timed("alterNamespace")(super.alterNamespace(namespace, changes: _*))
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    timed("dropNamespace")(super.dropNamespace(namespace, cascade))
}

object TimedCatalog {
  @volatile var recorder: Option[Recorder] = None

  /** Calls nest (the engine's `loadTable` may call `tableExists`); only
    * the outermost one is a span, so catalog time is not counted twice. */
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def timed[T](call: String, load: Boolean = false)(body: => T): T =
    recorder match {
      case Some(r) if depth.get == 0 =>
        depth.set(1)
        val start = r.clock()
        try body
        finally {
          depth.set(0)
          r.catalogCall(call, load, start, r.clock())
        }
      case _ => body
    }
}
