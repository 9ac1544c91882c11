package graft.catalog

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Typed catalog configuration (R20) — the reference's `V2SqlConf`
  * idea (/root/reference/.../V2SqlConf.scala:10-90: declared entries,
  * defaults, `checkValues` validation) without the per-catalog-type
  * registry indirection it needs for multi-HMS setups.
  *
  * Every option under `spark.sql.catalog.<name>.*` that the catalog
  * honors is declared here, so a typo'd or out-of-range option fails
  * `initialize` with the entry's documentation instead of being
  * silently ignored. */
object GraftConf {

  final case class Entry[T](
      key: String,
      default: Option[T],
      parse: String => T,
      valid: T => Boolean,
      doc: String) {

    def get(options: CaseInsensitiveStringMap, catalog: String): T = {
      val raw = Option(options.get(key))
      val value = raw.map { s =>
        try parse(s)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"catalog $catalog: invalid value '$s' for option $key ($doc)", e) }
      }.orElse(default).getOrElse(throw new IllegalArgumentException(
        s"catalog $catalog requires option spark.sql.catalog.$catalog.$key ($doc)"))
      require(valid(value),
        s"catalog $catalog: value '$value' out of range for option $key ($doc)")
      value
    }
  }

  /** Root directory of the filesystem warehouse (required). */
  val Warehouse: Entry[String] = Entry("warehouse", None, identity,
    (_: String).nonEmpty, "filesystem warehouse root for managed tables")

  /** The one provider list — create-time validation, the default-provider
    * option and the scan/write dispatchers all reference it, so adding a
    * format is a single edit. */
  val SupportedProviders: Set[String] = Set("parquet", "csv", "json", "orc", "avro")

  /** Provider used when CREATE TABLE omits USING. */
  val DefaultProvider: Entry[String] = Entry("defaultProvider",
    Some("parquet"), _.toLowerCase,
    SupportedProviders.contains(_: String),
    "table provider when USING is omitted: parquet, csv, json, orc or avro")

  /** Maintain table/partition sizes on every write commit. When false a
    * commit still registers written partitions but skips the
    * per-partition `getContentSummary` listing pass and CLEARS table
    * stats (invalidate-don't-recompute — the reference's
    * `autoSizeUpdateEnabled` fallback, CatalogUtil.scala:31-48). An
    * operator writing a 100 TB table may prefer that a commit not pay a
    * recursive-listing RPC per touched partition. */
  val AutoSizeUpdate: Entry[Boolean] = Entry("autoSizeUpdate",
    Some(true), s => s.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(s"not a boolean: $other")
    }, (_: Boolean) => true,
    "maintain table/partition size stats on write commit (true/false)")

  /** How long a write job waits for the per-table write permit before
    * failing. The permit serializes whole write jobs into one table dir
    * (shared `_temporary` staging — see GraftBatchWrite.writePermit), so
    * the right ceiling is "longer than the longest legitimate concurrent
    * write", which at a 100 TB posture is an operator decision, not a
    * constant: a ten-minute default would fail a waiter behind any
    * multi-hour backfill. */
  val WriteLockTimeoutSec: Entry[Long] = Entry("writeLockTimeoutSec",
    Some(600L), _.toLong, (_: Long) > 0L,
    "seconds a write waits for the per-table write lock before failing (> 0)")

  /** Ceiling on the SUMMED deleted-key count of a deletion-vector batch
    * group that a read filters against keys held on the DRIVER. Below
    * it, the group's sidecars are read once on the driver (cached by
    * batch token, the cache itself bounded by this count), and the keys
    * ship with the plan: the data side never joins, shuffles or waits on
    * an extra job (the MOR fast path). Above it — a broad MOR DELETE
    * while compaction is behind — holding the keys on the driver is an
    * OOM risk, so the read anti-joins the sidecars and the planner is
    * free to shuffle: same rows, scale-safe. 1M keys ≈ tens of MB for
    * typical key types. The name predates the driver-side filter (it
    * once bounded a broadcast hint) and is kept for compatibility. */
  val DvBroadcastKeys: Entry[Long] = Entry("dvBroadcastKeys",
    Some(1000000L), _.toLong, (_: Long) > 0L,
    "max summed deletion-vector keys per batch group that a read " +
      "filters against keys held on the driver (> 0)")
}
