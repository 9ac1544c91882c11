package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchPartitionException, PartitionsAlreadyExistException}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.csv.CSVScanBuilder
import org.apache.spark.sql.execution.datasources.v2.json.JsonScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.write.GraftWriteBuilder

/** A catalog table: `SupportsRead` + `SupportsWrite` +
  * `SupportsAtomicPartitionManagement` over parquet/csv/json/orc files — the
  * role of the reference's `V2Table`
  * (/root/reference/.../V2Table.scala:31,45-47), with the Hive-SerDe scan
  * machinery replaced by Spark's built-in columnar file scans (the
  * reference itself delegates CSV/JSON exactly this way,
  * V2Table.scala:63-64).
  *
  * Scan dispatch (R11): partitioned tables get the catalog-pruned
  * [[GraftFileIndex]]; unpartitioned tables a plain `InMemoryFileIndex`
  * over the location — mirroring V2Table.scala:51-68. Parquet scans are
  * vectorized/columnar with predicate pushdown + column pruning for free.
  */
class GraftTable(
    catalog: GraftCatalog, db: String, val meta: TableMeta,
    /** True for a TIME-TRAVEL relation (`VERSION/TIMESTAMP AS OF`): the
      * descriptor points at a RETIRED generation or snapshot, so every
      * mutation surface refuses — a write would land in a directory the
      * live descriptor no longer references. */
    timeTravel: Boolean = false,
    /** A SNAPSHOT travel relation's resolved file set (q116): when set,
      * the scan serves exactly these files through a pinned index — no
      * listing, no bucket/SPJ/skipping layout claims (retired files
      * live outside the layout dirs), stats from the snapshot itself. */
    pinned: Option[Snapshots.Resolved] = None)
  extends Table
  with SupportsRead
  with SupportsWrite
  with SupportsDelete
  with SupportsRowLevelOperations
  with SupportsAtomicPartitionManagement
  with SupportsMetadataColumns
  with org.apache.spark.sql.graft.StreamingV1FallbackTable {

  private def spark: SparkSession = SparkSession.active
  private def store: MetaStore = catalog.metaStore

  /** For [[graft.plans.ResolveDeletionVectors]]: the owning catalog and
    * namespace, needed to mint the pinned sub-relations a DV'd read
    * splits into. */
  private[graft] def graftCatalog: GraftCatalog = catalog
  private[graft] def dbName: String = db
  private[graft] def pinnedResolved: Option[Snapshots.Resolved] = pinned

  /** A READ-ONLY relation over an explicit subset of this table's files
    * (the deletion-vector splitter's building block): same schema and
    * provider, pinned index, every layout/stats claim and every DV
    * marker dropped — the fragment is exactly its file list. */
  private[graft] def pinnedSubset(dirs: Seq[Snapshots.ResolvedDir]): GraftTable =
    new GraftTable(catalog, db,
      meta.copy(history = Nil, snapshots = Nil, deleteVectors = Nil),
      timeTravel = true,
      pinned = Some(Snapshots.Resolved(meta.provider, dirs)))

  override def name(): String = s"${catalog.name}.$db.${meta.name}"

  override def schema(): StructType = meta.schema

  /** POSITIONAL merge-on-read tables (q121) expose the Iceberg-shaped
    * (`_file`, `_pos`) metadata pair — the rowId of their delta
    * operations, and a user-selectable inspection surface. Both are
    * SERVED exclusively by the extension's plan rewrite
    * ([[graft.plans.ResolveDeletionVectors]] replaces any relation whose
    * output references them with the V1 `_metadata`-backed plan); the
    * DSv2 scan below never produces them, and a session without the
    * extension fails the reference loudly at analysis. Keyed/COW tables
    * expose nothing — their reads are byte-identical to round 19.
    * Fragments the rewrite mints (pinned subsets) never reference the
    * columns, so the rule cannot re-match its own output. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (GraftCatalog.morPositional(meta))
      Array(
        GraftTable.metaCol(write.PositionalRead.FileCol, StringType,
          "logical file identity (original dir + name) of the row"),
        GraftTable.metaCol(write.PositionalRead.PosCol,
          org.apache.spark.sql.types.LongType,
          "row ordinal within its file (parquet row index)"))
    else Array.empty

  override def partitioning(): Array[Transform] = {
    val idents = meta.partitionColumns.map(Expressions.identity(_): Transform)
    // A recorded CLUSTERED BY spec surfaces in DESCRIBE / SHOW CREATE
    // exactly as declared (reference parity: buckets live in table
    // metadata even though writes refuse them).
    val bucket = for {
      n <- meta.properties.get(GraftCatalog.BucketCountProp)
      cols <- meta.properties.get(GraftCatalog.BucketColumnsProp)
    } yield Expressions.bucket(n.toInt, cols.split(","): _*): Transform
    (idents ++ bucket).toArray
  }

  override def properties(): util.Map[String, String] = {
    // graft.bucket.* is internal storage for the CLUSTERED BY spec; its
    // user-visible surface is partitioning() (DESCRIBE / SHOW CREATE
    // TABLE emit the bucket transform), so exposing the raw props here
    // would only invite a TBLPROPERTIES round-trip that CREATE refuses.
    val base = (meta.properties --
      Seq(GraftCatalog.BucketCountProp, GraftCatalog.BucketColumnsProp,
        // the dropped-column ledger, lineage-hole marker, and field-id
        // high-water mark are catalog-internal guards; exposing them
        // would invite a TBLPROPERTIES round-trip ALTER refuses
        GraftCatalog.DroppedColumnsProp, GraftCatalog.HistoryPrunedBelowProp,
        GraftCatalog.MaxFieldIdProp))
      // the stream-epoch log is commit bookkeeping, not user metadata
      .filterNot { case (k, _) => GraftCatalog.isStreamEpochProp(k) } ++ Map(
      TableCatalog.PROP_PROVIDER -> meta.provider,
      TableCatalog.PROP_LOCATION -> meta.location) ++
      (if (meta.external) Map(TableCatalog.PROP_EXTERNAL -> "true") else Map.empty)
    base.asJava
  }

  /** Reference capability set (V2Table.scala:45-47), extended with
    * STREAMING_WRITE: `df.writeStream.toTable("graft.db.t")` commits
    * each micro-batch through the same two-phase (FS → catalog) batch
    * commit, with a per-query epoch log for restart idempotence — see
    * [[graft.catalog.write.GraftStreamingWrite]]. (The read-side twin is
    * the `v1Table` fallback below.) */
  override def capabilities(): util.Set[TableCapability] =
    if (timeTravel) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** Every mutation surface of a time-travel relation refuses: the
    * descriptor points at a RETIRED generation. */
  private def refuseTimeTravelMutation(op: String): Unit =
    if (timeTravel) throw new UnsupportedOperationException(
      s"$op on ${name()}: a VERSION/TIMESTAMP AS OF relation is read-only " +
        "(it resolves a retired generation; CALL sys.rollback restores one)")

  // --- streaming read (V2TableWithV1Fallback) -----------------------------

  /** `spark.readStream.table("graft.db.t")` — streaming reads delegate
    * to Spark's V1 `FileStreamSource` through the analyzer's
    * `V2TableWithV1Fallback` hook (RelationResolution wraps this
    * CatalogTable in a streaming UnresolvedCatalogRelation as the
    * StreamingRelationV2 fallback). This IS the delegation Spark's own
    * file sources use: DSv2 file scans never implement
    * `toMicroBatchStream` — `DataStreamReader` routes every
    * `FileDataSourceV2` to the V1 source — so the battle-tested
    * file-listing micro-batch engine (new-files-per-trigger,
    * maxFilesPerTrigger backfill throttle) serves the catalog table
    * with the catalog's schema and partition columns, instead of the
    * user hand-feeding `readStream.parquet(path)` the location and a
    * hand-inferred schema. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    // the V1 file-stream source lists raw files — it cannot apply
    // deletion vectors, so a DV'd table must not stream THIS way. The
    // snapshot-lineage source (s23) serves exactly this case: its
    // micro-batches are manifest diffs with the vectors applied.
    if (meta.deleteVectors.nonEmpty)
      throw new UnsupportedOperationException(
        s"streaming read of ${name()} via readStream.table is not " +
          s"supported while ${meta.deleteVectors.size} deletion-vector " +
          "batch(es) are live (the file stream source lists raw files) — " +
          "use spark.readStream.format(\"graft-cdc\")" +
          s".option(\"table\", \"${name()}\") (snapshot-lineage micro-" +
          "batches, vectors applied), or CALL sys.compact to fold them")
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    // FileStreamSource's basePath contract requires a DIRECTORY; an
    // external table registered on a single file would resolve through
    // the fallback and then die deep inside the source with a confusing
    // listing error. Refuse here, at resolution time, with the actual
    // problem named. One getFileStatus call, paid only on streaming
    // resolution — the batch path never calls v1Table.
    val loc = new Path(meta.location)
    val isDir =
      try loc.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(loc).isDirectory
      catch { case _: java.io.FileNotFoundException => true } // empty table: dir not yet created
    if (!isDir)
      throw new UnsupportedOperationException(
        s"streaming read of ${catalog.name}.$db.${meta.name} is not supported: " +
        s"its location ${meta.location} is a single file, but the file " +
        "stream source requires a directory. Register the table on the " +
        "containing directory (or CTAS into a managed table) to stream it.")
    CatalogTable(
      identifier = TableIdentifier(meta.name, Some(db), Some(catalog.name)),
      tableType =
        if (meta.external) CatalogTableType.EXTERNAL else CatalogTableType.MANAGED,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(meta.location).toUri),
        // same option surface as the batch scan: format options (csv
        // header/delimiter) flow through, pure-metadata props do not;
        // id-mapped tables carry the field-id read switch here too
        properties = GraftCatalog.readOptions(meta)),
      schema = meta.schema,
      provider = Some(meta.provider),
      partitionColumnNames = meta.partitionColumns)
  }

  // --- read --------------------------------------------------------------

  /** Cluster columns the SCAN may treat as a per-file sort order —
    * non-empty only under the catalog-managed
    * [[GraftCatalog.ClusterSortedProp]] trust marker (managed create
    * with the declaration in place, or a full rewrite since the last
    * cluster-column change). The bucketed scans report these as DSv2
    * `SupportsReportOrdering` output ordering, so a merge join over
    * co-bucketed tables clustered by their bucket key skips the sorts
    * as well as the exchanges. Schema-resolved names (the ordering refs
    * must resolve against the relation output). */
  private def trustedSortCols: Seq[String] =
    if (meta.properties.get(GraftCatalog.ClusterSortedProp).contains("true"))
      GraftCatalog.clusterColumns(meta.properties).flatMap(c =>
        meta.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.name))
    else Nil

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // BACKSTOP, never the happy path: a table with live deletion vectors
    // (q119) is only readable through the plan-level anti-join rewrite
    // (graft.plans.ResolveDeletionVectors), which replaces this relation
    // with DV-applied pinned fragments BEFORE pushdown ever builds a
    // scan. Reaching here means the session lacks the rule — serving the
    // raw files would silently include every deleted row, so refuse
    // loudly instead.
    if (pinned.isEmpty && meta.deleteVectors.nonEmpty)
      throw new IllegalStateException(
        s"${name()} has ${meta.deleteVectors.size} live deletion-vector " +
          "batch(es); reading it requires the graft session extension " +
          "(spark.sql.extensions=graft.GraftExtensions) so deleted rows " +
          "are filtered — refusing to serve raw files")
    val cache = FileStatusCache.getOrCreate(spark)
    // Partitioned tables ALWAYS scan through the catalog-tracked index —
    // including when the partition list is empty: a plain
    // InMemoryFileIndex over the (empty) table dir would infer an empty
    // partition schema and the plan could not resolve the declared
    // partition columns (SELECT * before the first insert would fail
    // instead of returning zero rows).
    // SNAPSHOT travel relations serve their resolved file set through the
    // pinned index and the STOCK builder — no bucket/SPJ/skipping/stats
    // wrappers (layout claims and live statistics describe the CURRENT
    // table, not the snapshot; partition pruning still applies via the
    // pinned specs).
    val index: PartitioningAwareFileIndex =
      if (pinned.isDefined)
        new GraftPinnedFileIndex(spark, meta, pinned.get)
      else if (meta.isPartitioned)
        new GraftFileIndex(spark, meta, cache)
      else if (SkipStats.skippingColumns(meta.properties).nonEmpty ||
          SkipStats.bloomColumns(meta.properties).nonEmpty)
        new GraftSkippingFileIndex(spark, meta, cache)
      else
        new InMemoryFileIndex(spark, Seq(new Path(meta.location)),
          meta.properties, Some(meta.schema), cache)
    // Table properties (e.g. csv header/delimiter) flow into the scan as
    // read options, caller options win; pure-metadata properties
    // (comment/owner) are NOT options and must not reach the format.
    // readOptions also injects the parquet field-id matching switch for
    // id-mapped tables (rename-over-data correctness)
    val opts = new CaseInsensitiveStringMap(
      (GraftCatalog.readOptions(meta) ++ options.asScala).asJava)
    // `graft.skipping.by` columns join the runtime-filter surface
    // (DYNAMIC FILE PRUNING, q111/q117): a selective dim join's runtime
    // IN-set is evaluated against the skip-stats shards so excluded
    // files are never scheduled — computed here because both the
    // columnar wrappers below and the generic (avro) scan use it
    val skipCols = (SkipStats.resolvedCols(meta.properties, meta.schema) ++
      SkipStats.resolvedBloomCols(meta.properties, meta.schema))
      .map(_.name).distinct
    // the layout claims every wrapper below shares (GraftLayoutSpec).
    // The bucket column is never a skipping column: runtime bucket
    // pruning already owns it. Snapshot reads claim no layout.
    val layout =
      if (pinned.isDefined) org.apache.spark.sql.graft.GraftLayoutSpec()
      else {
        val bucket = GraftCatalog.writableBucketSpec(meta)
        val skipping = skipCols.filterNot(c =>
          bucket.exists(b => spark.sessionState.conf.resolver(c, b._2)))
        org.apache.spark.sql.graft.GraftLayoutSpec(bucket, trustedSortCols, skipping,
          if (skipping.nonEmpty) Some((meta.schema, meta.properties)) else None)
      }
    val builder = meta.provider match {
      case "parquet" => ParquetScanBuilder(spark, index, meta.schema, meta.dataSchema, opts)
      case "csv" => CSVScanBuilder(spark, index, meta.schema, meta.dataSchema, opts)
      case "json" => JsonScanBuilder(spark, index, meta.schema, meta.dataSchema, opts)
      case "orc" => org.apache.spark.sql.execution.datasources.v2.orc.OrcScanBuilder(
        spark, index, meta.schema, meta.dataSchema, opts)
      // avro ships with NO DSv2 scan (V1 AvroFileFormat only) — it reads
      // through the generic FileFormat-backed scan: column pruning,
      // static partition pruning and runtime (DPP) partition and
      // skipping filters (the R12 any-SerDe delegation,
      // HiveFilePartitionReaderFactory.scala:43-154). A BUCKETED avro
      // table gets the same read-side fast paths as the columnar
      // providers through the shared layout component: bucket ids from
      // file names for bucket pruning and (composite-)keyed SPJ
      // reporting — see GraftBucketLayout.
      case "avro" => return new org.apache.spark.sql.graft.GraftFormatScanBuilder(
        spark, org.apache.spark.sql.graft.GraftSqlBridge.avroFileFormat(),
        index, meta.schema,
        GraftCatalog.optionProps(meta.properties) ++
          scala.jdk.CollectionConverters.MapHasAsScala(options).asScala,
        layout)
      case other => throw new IllegalStateException(s"unsupported provider $other")
    }
    // Partitioned tables scan through the runtime-filtering wrapper:
    // Spark 4.1's FileScan drops SupportsRuntimeV2Filtering entirely
    // (DPP is a V1-HadoopFsRelation-only feature upstream), so without
    // this a partition-key join would scan every partition — see
    // GraftScanBuilder's scaladoc. Unpartitioned tables keep the stock
    // builder: nothing to runtime-prune.
    // `graft.spj` additionally reports the partition layout as a DSv2
    // KeyGroupedPartitioning (one split per partition value) so
    // co-partitioned joins and partition-keyed aggregates run
    // shuffle-free — see GraftSpjFileScan's scaladoc for why opt-in.
    val spjProp =
      meta.properties.get(GraftCatalog.SpjProp).exists(_.equalsIgnoreCase("true"))
    // writable bucketed tables ALWAYS scan through the bucket-aware
    // wrapper: declaring buckets IS the layout opt-in (the user chose
    // n as the parallelism knob), so equality/IN predicates on the
    // bucket key prune to their buckets' files in any session, and
    // under the SPJ confs the scan additionally reports
    // KeyGroupedPartitioning(bucket(n, col)) — prefixed with the
    // identity transforms when the table is ALSO partitioned (q103's
    // composite layout) — for zero-exchange co-laid-out joins; see
    // GraftBucketLayout. Default-conf un-narrowed scans keep the
    // stock planning unchanged. The bucket wrapper subsumes graft.spj
    // (its keys carry the partition values too), so `bucket` wins when
    // both are declared.
    // ANALYZE-collected statistics (numRows + column NDV/null/min-max)
    // ride the wrapper's DSv2 stats surface into CBO's cardinality
    // estimation; a table carrying them scans through the wrapper even
    // when nothing else requires it.
    val v2Stats = meta.stats
      .filter(s => s.numRows.isDefined || s.colStats.nonEmpty).map { s =>
        val rows = s.numRows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        s.colStats.foreach { case (c, cs) =>
          meta.schema.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
            m.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
              org.apache.spark.sql.graft.GraftSqlBridge.v2ColumnStatistics(
                f.dataType, cs.ndv, cs.nullCount, cs.min, cs.max,
                cs.avgLen, cs.maxLen,
                cs.histogram.map { case (h, bins) =>
                  (h, bins.map(b => (b.lo, b.hi, b.ndv)))
                }))
          }
        }
        (rows, m: java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics])
      }
    if (pinned.isDefined) return builder
    // the skipping/bloom columns join the BUCKETED scan's runtime
    // surface too (q117): a selective dim join on a NON-key column of
    // the composite layout empties provably-excluded files out of the
    // latched keyed groups. An identity-SPJ scan offers none.
    if (layout.bucket.isDefined || meta.isPartitioned)
      new org.apache.spark.sql.graft.GraftScanBuilder(builder,
        meta.partitionColumns, spj = spjProp, tableStats = v2Stats, layout = layout)
    else if (v2Stats.isDefined || skipCols.nonEmpty)
      new org.apache.spark.sql.graft.GraftScanBuilder(builder, Nil,
        tableStats = v2Stats, layout = layout)
    else builder
  }

  // --- write -------------------------------------------------------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    { refuseTimeTravelMutation("write")
      new GraftWriteBuilder(spark, store, db, meta, info, catalog.autoSizeUpdate,
        catalog.writeLockTimeoutSec) }

  // --- DELETE FROM (SupportsDelete) ---------------------------------------

  /** Metadata-only DELETE: predicates expressible as a static partition
    * spec (the same unwrap rule as overwrite-by-filter) are executed as
    * partition-directory deletes + catalog deregistration — no row-level
    * rewrite, O(partitions touched) regardless of table size, which is
    * the only DELETE shape that makes sense for a 100 TB file-backed
    * table without a row-level transaction log. Row-level predicates
    * report `canDeleteWhere = false` and fail the statement loudly. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    write.PartitionPredicates.unwrap(spark, meta, filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseTimeTravelMutation("DELETE")
    val spec = write.PartitionPredicates.unwrap(spark, meta, filters).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE on ${name()} supports only static partition predicates, " +
          s"got: ${filters.mkString(", ")}"))
    // DELETE removes DATA; an EXTERNAL table's data is not ours to
    // delete (the DROP TABLE / DROP PARTITION retention rule, applied
    // consistently)
    if (meta.external) throw new UnsupportedOperationException(
      s"DELETE FROM is not supported on EXTERNAL table ${name()}")
    val hadoopConf = spark.sessionState.newHadoopConf()
    // serialize against in-flight writes: deleting dirs under a running
    // append would destroy its shared _temporary staging
    val release = write.GraftBatchWrite.leaseWritePermit(spark, meta.location,
      s"DELETE FROM ${name()} since ${java.time.Instant.now()}",
      catalog.writeLockTimeoutSec)
    // DELETE is a commit: removed files RETIRE under a token (q116) so
    // the pre-delete snapshot stays restorable, and a new snapshot is
    // recorded after the descriptor update
    val retireToken = java.util.UUID.randomUUID().toString
    try {
      var unpartitioned = false
      store.updateTable(db, meta.name) { current =>
        if (spec.isEmpty) {
          // whole-table DELETE == truncate
          unpartitioned = !current.isPartitioned
          Snapshots.retireTableRoot(hadoopConf, current.location, retireToken)
          // custom-LOCATION partition data retires into its own dir's
          // ext area (round 19) — restorable like everything else
          current.partitions.flatMap(_.location).foreach { l =>
            Snapshots.retireDirTree(
              hadoopConf, current.location, new Path(l), retireToken)
          }
          current.copy(partitions = Nil,
            stats = if (catalog.autoSizeUpdate) Some(TableStats(0L, None)) else None)
        } else {
          val (dropped, kept) = current.partitions.partition(p =>
            spec.forall { case (k, v) =>
              p.spec.exists { case (pk, pv) => pk.equalsIgnoreCase(k) && pv == v } })
          dropped.foreach { p =>
            val d = p.location.map(new Path(_))
              .getOrElse(defaultPartitionDir(current, p.spec))
            Snapshots.retireDirTree(hadoopConf, current.location, d, retireToken)
          }
          // the literal dir for a full spec also covers files written
          // before partition tracking (parity with static overwrite)
          if (spec.size == current.partitionColumns.size) {
            val lit = defaultPartitionDir(current,
              current.partitionColumns.map(c => c ->
                spec.find(_._1.equalsIgnoreCase(c)).map(_._2).get).toMap)
            Snapshots.retireDirTree(hadoopConf, current.location, lit, retireToken)
          }
          current.copy(partitions = kept,
            stats =
              if (catalog.autoSizeUpdate && kept.forall(_.isSized))
                Some(TableStats(kept.map(_.sizeInBytes).sum, None))
              else None)
        }
      }
      Snapshots.maintain(spark, store, db, meta.name, "delete", retireToken,
        if (unpartitioned) Seq(meta.location) else Nil)
      FileStatusCache.getOrCreate(spark).invalidateAll()
    } finally release()
  }

  // --- row-level DML (SupportsRowLevelOperations) --------------------------

  /** UPDATE / MERGE INTO / row-predicate DELETE as group-based
    * copy-on-write at partition granularity (see
    * [[graft.catalog.write.GraftRowLevelOperation]]). Partition-predicate
    * DELETEs still take the metadata-only `SupportsDelete` path — Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` downgrades the rewrite when
    * `canDeleteWhere` accepts the predicate, so adding this surface makes
    * row predicates WORK instead of changing what already did. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    refuseTimeTravelMutation("row-level operation")
    // The bucketed-table guard lives in the operation's WRITE build, not
    // here: Spark plans the row-level rewrite for every conditional
    // DELETE before OptimizeMetadataOnlyDeleteFromTable can downgrade
    // it, and a partition-predicate DELETE on a bucketed table is served
    // by the metadata-only SupportsDelete path (bucket-safe — it only
    // drops whole partitions), so throwing at analysis would reject
    // statements no rewrite ever runs for.
    // DELETE removes data outright — not ours to remove on EXTERNAL
    // tables (the DROP/DROP PARTITION/deleteWhere retention rule).
    // UPDATE/MERGE stay allowed: like INSERT OVERWRITE, they are
    // explicit writes OF the external data, not disposal of it.
    if (info.command == RowLevelOperation.Command.DELETE && meta.external)
      throw new UnsupportedOperationException(
        s"DELETE FROM is not supported on EXTERNAL table ${name()}")
    val morOn = GraftCatalog.morEnabled(meta)
    // LIVE deletion vectors constrain what may run next (q119):
    //  - MOR DELETE stacks safely — re-deleting an already-hidden key is
    //    a no-op under the anti-join;
    //  - MOR UPDATE / MERGE stack too (round 20): their delta read gets
    //    the same plan-level anti-join split as any other read
    //    (graft.plans.ResolveDeletionVectors rewrites the delta
    //    relation), so hidden rows are never re-emitted — the hourly
    //    MERGE-upsert workload needs no compaction between statements;
    //  - every COW rewrite must not: its group scan would carry hidden
    //    rows into the replacement files.
    // Compaction folds the vectors and re-opens the COW matrix.
    if (meta.deleteVectors.nonEmpty && !morOn)
      throw new UnsupportedOperationException(
        s"${info.command} on ${name()}: ${meta.deleteVectors.size} live " +
          "deletion-vector batch(es) — copy-on-write rewrites cannot run " +
          "over unfolded deletes; CALL sys.compact to fold them first")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (morOn)
          // key present ⇒ equality deletes on the declared tuple;
          // absent ⇒ POSITIONAL deletes on (_file, _pos) (q121)
          new write.GraftMorOperation(spark, store, db, meta,
            info.command, GraftCatalog.morSpec(meta), catalog.autoSizeUpdate,
            catalog.writeLockTimeoutSec)
        else
          new write.GraftRowLevelOperation(spark, store, db, meta,
            info.command, catalog.autoSizeUpdate, catalog.writeLockTimeoutSec)
    }
  }

  // --- partition management (R18, V2Table.scala:80-113) -------------------

  override def partitionSchema(): StructType = meta.partitionSchema

  private def specOf(ident: InternalRow): Map[String, String] = {
    val ps = meta.partitionSchema
    ps.fields.zipWithIndex.map { case (f, i) =>
      val v = Cast(Literal(ident.get(i, f.dataType), f.dataType), StringType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      f.name -> (if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                 else v.asInstanceOf[UTF8String].toString)
    }.toMap
  }

  private def fresh: TableMeta = store.loadTable(db, meta.name)

  override def createPartitions(
      idents: Array[InternalRow],
      properties: Array[util.Map[String, String]]): Unit = {
    val specs = idents.map(specOf)
    // atomic read-modify-write: a concurrent write commit must not be
    // able to interleave between the duplicate check and the save
    store.updateTable(db, meta.name) { current =>
      val dupIdents = idents.zip(specs)
        .filter { case (_, s) => current.partitions.exists(_.spec == s) }.map(_._1)
      if (dupIdents.nonEmpty) throw new PartitionsAlreadyExistException(
        name(), dupIdents.toSeq, meta.partitionSchema)
      val added = specs.zip(properties).map { case (spec, props) =>
        val loc = Option(props.get(TableCatalog.PROP_LOCATION))
        val dir = loc.map(new Path(_)).getOrElse(defaultPartitionDir(current, spec))
        dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
        // Unsized, not 0: a LOCATION may point at existing data, and the
        // next sizing commit repairs the placeholder exactly once.
        PartitionMeta(spec, loc, PartitionMeta.Unsized)
      }
      current.copy(partitions = current.partitions ++ added)
    }
  }

  override def dropPartitions(idents: Array[InternalRow]): Boolean = {
    val specs = idents.map(specOf).toSet
    var allFound = true
    // DROP PARTITION is a COMMIT now (round 19): managed tables RETIRE
    // the dropped trees under a token and record a snapshot, so time
    // travel and rollback survive routine partition DDL (previously the
    // drop purged outside the commit path and CLEARED the lineage).
    // Serialized against writers like every other retiring mutation.
    val retireToken = java.util.UUID.randomUUID().toString
    val hadoopConf = spark.sessionState.newHadoopConf()
    val release = write.GraftBatchWrite.leaseWritePermit(spark, meta.location,
      s"DROP PARTITION on ${name()} since ${java.time.Instant.now()}",
      catalog.writeLockTimeoutSec)
    try {
      var external = meta.external
      store.updateTable(db, meta.name) { current =>
        val (dropped, kept) = current.partitions.partition(p => specs.contains(p.spec))
        external = current.external
        // returning `current` unchanged makes updateTable skip the
        // descriptor rewrite — a missing partition is a read-only outcome
        if (dropped.size < specs.size) { allFound = false; current }
        else {
          // Managed tables own their data; EXTERNAL tables retain it — the
          // reference's rule (V2Table.scala:92-98). Managed data RETIRES
          // (custom-LOCATION trees outside the root still delete — the
          // declared §7.4 trade).
          if (!current.external) {
            dropped.foreach { p =>
              Snapshots.retireDirTree(hadoopConf, current.location,
                p.location.map(new Path(_))
                  .getOrElse(defaultPartitionDir(current, p.spec)), retireToken)
            }
          }
          current.copy(
            partitions = kept,
            // honor the R19 toggle here too, and never sum a partition that
            // still carries the Unsized placeholder — either would present
            // authoritative near-zero stats for a non-empty table
            stats =
              if (catalog.autoSizeUpdate && kept.forall(_.isSized))
                Some(TableStats(kept.map(_.sizeInBytes).sum, None))
              else None)
        }
      }
      // the drop is a lineage event: its snapshot records the token so
      // the retired trees stay resolvable (dropped partitions are
      // deregistered, so no shard lists them as live)
      if (allFound && !external)
        Snapshots.maintain(spark, store, db, meta.name, "drop-partition",
          retireToken, Nil)
    } finally release()
    if (allFound) FileStatusCache.getOrCreate(spark).invalidateAll()
    allFound
  }

  override def replacePartitionMetadata(
      ident: InternalRow, properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("replacePartitionMetadata not supported")

  override def loadPartitionMetadata(ident: InternalRow): util.Map[String, String] = {
    val spec = specOf(ident)
    val current = fresh
    current.partitions.find(_.spec == spec) match {
      case Some(p) => Map(
        TableCatalog.PROP_LOCATION ->
          p.location.getOrElse(defaultPartitionDir(current, spec).toString)).asJava
      case None => throw new NoSuchPartitionException(db, meta.name, spec)
    }
  }

  /** Prefix-spec filter with typed values cast back with the session
    * timezone (V2Table.scala:108-113). */
  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    val ps = meta.partitionSchema
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val wanted = names.zipWithIndex.map { case (n, i) =>
      val fi = ps.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      require(fi >= 0, s"$n is not a partition column of ${name()}")
      val v = Cast(Literal(ident.get(i, ps(fi).dataType), ps(fi).dataType),
        StringType, Some(tz)).eval(null)
      ps(fi).name -> (if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                      else v.asInstanceOf[UTF8String].toString)
    }.toMap
    fresh.partitions
      .filter(p => wanted.forall { case (k, v) => p.spec.get(k).contains(v) })
      .map { p =>
        InternalRow.fromSeq(ps.map { f =>
          val raw = p.spec.getOrElse(f.name, null)
          if (raw == null || raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
            Some(tz)).eval(null)
        })
      }.toArray
  }

  private def defaultPartitionDir(current: TableMeta, spec: Map[String, String]): Path =
    graft.catalog.write.GraftBatchWrite.partitionDir(current, spec)
}

object GraftTable {
  /** A non-null metadata column (positional merge-on-read's
    * `_file`/`_pos`). */
  private[catalog] def metaCol(
      colName: String,
      tpe: org.apache.spark.sql.types.DataType,
      doc: String): MetadataColumn =
    new MetadataColumn {
      override def name(): String = colName
      override def dataType(): org.apache.spark.sql.types.DataType = tpe
      override def isNullable: Boolean = false
      override def comment(): String = doc
    }
}
