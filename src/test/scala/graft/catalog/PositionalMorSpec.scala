package graft.catalog

import org.apache.hadoop.fs.Path

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}

/** POSITIONAL merge-on-read (q121): `graft.dml.mode = merge-on-read`
  * with NO `graft.dml.key` — row identity is the (`_file`, `_pos`)
  * metadata pair, so tables WITHOUT any natural NOT NULL key (including
  * tables with fully duplicated rows) get the deletion-vector DML and
  * its write-amplification fix. Contracts:
  *
  *  - DELETE / UPDATE / MERGE leave every pre-existing data file
  *    BYTE-IDENTICAL (position sidecars only);
  *  - positional identity: updating ONE occurrence's predicate over
  *    duplicated rows touches each matching OCCURRENCE exactly once —
  *    multiplicity is preserved (the semantics keyed MOR cannot even
  *    declare);
  *  - identity survives file RETIREMENT: travel reads across later
  *    commits still apply the positions (the `_file` column is the
  *    logical original-dir+name identity, not the physical path);
  *  - the (_file, _pos) pair is user-selectable metadata;
  *  - compaction folds; the refusal matrix (provider, reserved names,
  *    extension) is loud.
  */
class PositionalMorSpec extends AnyFunSuite with SparkFixture {

  private val ns = s"${GraftBootstrap.CatalogName}.postest"

  private def cat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def meta(t: String): TableMeta =
    cat.metaStore.loadTable(ns.split("\\.")(1), t.split("\\.").last)

  private def freshTable(name: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  /** Fingerprint of every DATA file (path → (len, mtime)). */
  private def fileState(t: String): Map[String, (Long, Long)] = {
    val m = meta(t)
    val conf = spark.sessionState.newHadoopConf()
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def files(dir: Path): Seq[(String, (Long, Long))] = {
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.flatMap {
        case s if s.isDirectory && !hidden(s.getPath.getName) => files(s.getPath)
        case s if s.isFile && !hidden(s.getPath.getName) =>
          Seq(s.getPath.toString -> (s.getLen, s.getModificationTime))
        case _ => Nil
      }
    }
    files(new Path(m.location)).toMap
  }

  /** A keyless table: `id` is deliberately NOT unique (duplicated rows
    * exist), which is the whole point of positional mode. */
  private def createPos(t: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v DOUBLE, p STRING)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 10.0, 'a'), (1, 10.0, 'a'), (2, 20.0, 'a'), " +
      "(3, 30.0, 'b'), (4, 40.0, 'b'), (5, 50.0, 'c')")
  }

  private def rows(t: String): Seq[(Long, Double, String)] =
    spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted

  test("positional DELETE hides rows — zero data files touched, duplicates both die") {
    val t = freshTable("p_del")
    createPos(t)
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 1") // 1, 1, 3, 5
    assert(rows(t) === Seq((2L, 20.0, "a"), (4L, 40.0, "b")))
    assert(fileState(t) === before,
      "positional DELETE must not rewrite or remove any data file")
    assert(meta(t).deleteVectors.size === 1)
    assert(meta(t).deleteVectors.head.keyColumn ===
      graft.catalog.write.PositionalRead.Marker)
    assert(meta(t).deleteVectors.head.keys === 4L)
  }

  test("positional UPDATE preserves duplicate multiplicity") {
    val t = freshTable("p_upd")
    createPos(t)
    val before = fileState(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 1")
    // BOTH duplicated occurrences update, both survive — multiplicity 2
    assert(rows(t) === Seq((1L, 11.0, "a"), (1L, 11.0, "a"),
      (2L, 20.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    // pre-existing files untouched (the update's new rows are appends)
    before.keys.foreach { f =>
      assert(fileState(t).get(f) === before.get(f),
        s"pre-existing data file $f must be byte-identical")
    }
  }

  test("positional DELETE → UPDATE → MERGE stack without compaction") {
    val t = freshTable("p_stack")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1") // both duplicates die
    spark.sql(s"UPDATE $t SET v = v * 10 WHERE p = 'b'") // 3, 4
    spark.sql(
      s"""MERGE INTO $t USING (SELECT 5L AS id, 99.0 AS v UNION ALL
         |  SELECT 6L, 60.0) s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, 'c')
         |""".stripMargin)
    assert(rows(t) === Seq((2L, 20.0, "a"), (3L, 300.0, "b"),
      (4L, 400.0, "b"), (5L, 99.0, "c"), (6L, 60.0, "c")))
    assert(meta(t).deleteVectors.size === 3)
  }

  test("re-inserted identical rows stay visible (new files carry no positions)") {
    val t = freshTable("p_reinsert")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    spark.sql(s"INSERT INTO $t VALUES (2, 20.0, 'a')")
    assert(rows(t).count(_ == (2L, 20.0, "a")) === 1)
    spark.sql(s"INSERT INTO $t VALUES (2, 20.0, 'a')")
    assert(rows(t).count(_ == (2L, 20.0, "a")) === 2)
  }

  test("(_file, _pos) are selectable metadata columns") {
    val t = freshTable("p_meta")
    createPos(t)
    val ids = spark.sql(s"SELECT id, _file, _pos FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(ids.length === 6)
    // identities are unique pairs, files are the logical dir+name paths
    assert(ids.map(r => (r._2, r._3)).distinct.length === 6)
    assert(ids.forall(_._2.contains("p_meta")))
    // positions restart per file and the duplicated rows in partition
    // 'a' occupy distinct positions of one file
    val dupPos = ids.filter(_._1 == 1L)
    assert(dupPos.length === 2 && dupPos.map(_._3).distinct.length === 2)
    // after a delete the hidden pair is gone from the metadata view too
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    assert(spark.sql(s"SELECT _pos FROM $t").count() === 4)
  }

  test("positional identity survives retirement — travel applies positions to moved files") {
    val t = freshTable("p_travel")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id IN (1, 3)") // v+1: hides 1,1,3
    val afterDelete = rows(t)
    assert(afterDelete === Seq((2L, 20.0, "a"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    // retire partition 'a' files via a dynamic overwrite — the deleted
    // duplicates' file moves to a retirement area
    spark.table(t).where("p = 'a'")
      .withColumn("v", org.apache.spark.sql.functions.col("v") + 0.5)
      .writeTo(t).overwritePartitions()
    assert(rows(t) === Seq((2L, 20.5, "a"), (4L, 40.0, "b"), (5L, 50.0, "c")))
    // VERSION AS OF 1 (one back from head) = the post-delete snapshot:
    // the retired file is read from its retirement area, and the
    // positions must STILL apply — resurfacing (1, 10.0, 'a') twice
    // would be the physical-path bug
    val travel = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted
    assert(travel === afterDelete,
      "positions must keep applying to files after they retire")
  }

  test("compaction folds positional vectors — partitioned and unpartitioned") {
    val t = freshTable("p_fold")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    spark.sql(s"UPDATE $t SET v = 0.0 WHERE id = 4")
    assert(meta(t).deleteVectors.size === 2)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    assert(meta(t).deleteVectors.isEmpty, "compaction must fold the vectors")
    assert(rows(t) === Seq((2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 0.0, "b"), (5L, 50.0, "c")))

    val u = freshTable("p_fold_unpart")
    spark.sql(s"CREATE TABLE $u (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $u VALUES (1, 1.0), (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $u WHERE id = 1")
    assert(meta(u).deleteVectors.size === 1)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$u')")
    assert(meta(u).deleteVectors.isEmpty)
    assert(spark.table(u).collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq === Seq((2L, 2.0)))
  }

  test("changelog emits positional deletes as rows, older batches respected") {
    val t = freshTable("p_cdc")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1") // 2 rows die
    spark.sql(s"DELETE FROM $t WHERE p = 'b' AND v > 35.0") // id 4 dies
    val changes = graft.operators.ChangeFeed
      .changesBetween(spark, t, fromVersionsBack = 2, toVersionsBack = 0)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSeq.sorted
    assert(changes === Seq(
      (1L, 10.0, "a", "delete"), (1L, 10.0, "a", "delete"),
      (4L, 40.0, "b", "delete")),
      s"positional CDC must restate exactly the deleted occurrences, got $changes")
  }

  test("delta-condition partition pruning scopes the batch to matching partitions") {
    val t = freshTable("p_prune")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE p = 'a' AND id = 1")
    val m = meta(t)
    assert(m.deleteVectors.size === 1)
    val (_, applies, _) = graft.catalog.write.DvManifest.read(
      spark.sessionState.newHadoopConf(), m.deleteVectors.head.manifest).get
    assert(applies.nonEmpty && applies.forall(_.contains("p=a")),
      s"the batch must apply ONLY to partition a's files, got $applies")
    // reads of untouched partitions keep the vectorized DSv2 clean
    // fragment (the plan splits; only p=a anti-joins)
    val plan = spark.table(t).where("p = 'b'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"),
      s"untouched partitions must stay on the DSv2 scan:\n$plan")
    assert(rows(t) === Seq((2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 40.0, "b"), (5L, 50.0, "c")))
  }

  test("a delta Filter under a MERGE-shaped join keeps its partition pruning") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LocalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.types.LongType
    val t = freshTable("p_join_filter")
    createPos(t)
    // the analyzed (never executed) UPDATE: its delta read is
    // Filter(p = 'a', relation over the row-level operation)
    val analyzed = spark.sessionState.analyzer.executeAndCheck(
      spark.sessionState.sqlParser.parsePlan(s"UPDATE $t SET v = v + 1 WHERE p = 'a'"),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker)
    val bridge = org.apache.spark.sql.graft.GraftSqlBridge
    val (filter, op) = analyzed.collectFirst {
      case f @ Filter(_, r: DataSourceV2Relation) if bridge.rowLevelOperationTable(r.table).isDefined =>
        (f, bridge.rowLevelOperationTable(r.table).get._2
          .asInstanceOf[graft.catalog.write.GraftMorOperation])
    }.getOrElse(fail(s"no delta Filter in the analyzed UPDATE:\n$analyzed"))
    // wrap it in a join whose condition says nothing about partitions:
    // the Filter's own condition must still scope the delta read
    val id = filter.output.find(_.name == "id").get
    val src = AttributeReference("src_id", LongType)()
    val join = Join(filter, LocalRelation(src), Inner, Some(EqualTo(id, src)), JoinHint.NONE)
    val rewritten = graft.plans.ResolveDeletionVectors(join)
    assert(op.scannedSpecs === Some(Seq(Map("p" -> "a"))),
      s"the delta read under the join lost its condition's pruning: ${op.scannedSpecs}")
    assert(rewritten.collectFirst { case j: Join => j.left }
      .exists(_.isInstanceOf[Filter]), s"the Filter must stay above the rewritten read:\n$rewritten")
  }

  test("snapshot-lineage stream source serves positional tables (initial state + cdc)") {
    val t = freshTable("p_stream")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val feed = graft.streaming.GraftChangeStream.forTable(
      spark, t, graft.streaming.GraftChangeStream.AppendMode)
    val head = feed.headVersion().get
    // initial load at head: full state, positions applied — the deleted
    // duplicates are never emitted
    val initial = feed.batch(None, head).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted
    assert(initial === Seq((2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 40.0, "b"), (5L, 50.0, "c")))
    // cdc mode across the delete emits the two occurrences as deletes
    val cdc = graft.streaming.GraftChangeStream.forTable(
      spark, t, graft.streaming.GraftChangeStream.CdcMode)
    val changes = cdc.batch(Some(head - 1), head).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq.sorted
    assert(changes === Seq((1L, "delete"), (1L, "delete")))
  }

  test("DROP + re-CREATE same name: zero-batch delta planning never serves the old incarnation") {
    // the bench-caught aliasing: a positional delta read with NO live
    // batches plans outside the (dir, seq, tokens) listing cache —
    // tokens are what disambiguate incarnations, and a re-created table
    // replays the same (dir, seq) pairs with an empty token set
    val t = freshTable("p_recreate")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    assert(rows(t).size === 4)
    spark.sql(s"DROP TABLE $t")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1") // must plan over the NEW files
    assert(rows(t) === Seq((2L, 20.0, "a"), (3L, 30.0, "b"),
      (4L, 40.0, "b"), (5L, 50.0, "c")))
  }

  test("positional UPDATE moving rows across partitions") {
    val t = freshTable("p_move")
    createPos(t)
    spark.sql(s"UPDATE $t SET p = 'z' WHERE id = 5")
    assert(rows(t) === Seq((1L, 10.0, "a"), (1L, 10.0, "a"), (2L, 20.0, "a"),
      (3L, 30.0, "b"), (4L, 40.0, "b"), (5L, 50.0, "z")),
      "the row must MOVE: hidden at its old position, appended in the new partition")
    assert(meta(t).partitions.exists(_.spec.values.toSeq.contains("z")))
  }

  test("positional MOR composes with bucket routing") {
    val t = freshTable("p_bucket")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v DOUBLE)
         |CLUSTERED BY (id) INTO 4 BUCKETS
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (1, 1.0), (2, 2.0), (3, 3.0)")
    val before = fileState(t)
    spark.sql(s"DELETE FROM $t WHERE v < 1.5") // both duplicates of id 1
    assert(fileState(t) === before, "DELETE must not touch bucket files")
    spark.sql(s"UPDATE $t SET v = v * 10 WHERE id = 2")
    assert(spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ===
      Seq((2L, 20.0), (3L, 3.0)))
    // the update's insert half hash-routed: every data file's name
    // parses as a legal bucket id (the bucketed-append invariant)
    val m = meta(t)
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(m.location)
    val fs = dir.getFileSystem(conf)
    val names = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
    assert(names.nonEmpty && names.forall(_.matches("part-0000[0-3]-.*")),
      s"bucket-routed names expected, got $names")
  }

  test("positional UPDATE killed between FS commit and catalog phase rolls back at the next read") {
    val t = freshTable("p_crash")
    createPos(t)
    val expect = rows(t)
    // the worst window: insert half published, the .delta marker (and
    // the DvMeta registration) never happened — without repair the new
    // rows would be live while their position-deletes are lost
    // (permanent duplicates for an UPDATE)
    graft.catalog.write.GraftBatchWrite.crashAfterFsCommit = Some(() =>
      throw new RuntimeException("injected post-publish crash"))
    try {
      intercept[Exception](spark.sql(s"UPDATE $t SET v = 0 WHERE id = 2"))
    } finally graft.catalog.write.GraftBatchWrite.crashAfterFsCommit = None
    assert(rows(t) === expect,
      "the crashed UPDATE must be invisible — no duplicates, no deletes")
    assert(meta(t).deleteVectors.isEmpty)
    spark.sql(s"UPDATE $t SET v = 0 WHERE id = 2")
    assert(rows(t).contains((2L, 0.0, "a")))
  }

  test("rollback across a positional DV commit restores the pre-delete state") {
    val t = freshTable("p_rollback")
    createPos(t)
    val expect = rows(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    assert(rows(t).size === 4)
    graft.operators.Rollback.rollback(spark, t)
    assert(rows(t) === expect, "rollback must undo the positional DELETE")
    assert(meta(t).deleteVectors.isEmpty)
  }

  test("schema evolution composes with live positional vectors") {
    val t = freshTable("p_evolve")
    createPos(t)
    spark.sql(s"DELETE FROM $t WHERE id = 1") // live batch
    // ADD over live vectors: old files read NULL for the new column
    // (field-id matching — positional tables are managed parquet),
    // deleted positions stay hidden
    spark.sql(s"ALTER TABLE $t ADD COLUMN w DOUBLE")
    val afterAdd = spark.table(t).selectExpr("id", "v", "w").collect()
    assert(afterAdd.length === 4 && afterAdd.forall(_.isNullAt(2)))
    // RENAME over live vectors: values carry under the new name, the
    // (file, pos) anti-join is untouched (identity is metadata, not data)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO value")
    assert(spark.table(t).selectExpr("sum(value)").collect()
      .head.getDouble(0) === 140.0) // 20+30+40+50
    // DML keeps working against the evolved schema
    spark.sql(s"UPDATE $t SET w = value / 10 WHERE id = 4")
    assert(spark.table(t).where("id = 4").selectExpr("w").collect()
      .head.getDouble(0) === 4.0)
  }

  test("refusal matrix: provider, reserved names, key-mode changes") {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    // non-parquet positional refused at DDL
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $ns.p_csv (id BIGINT) USING csv " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    }
    assert(e1.getMessage.contains("parquet-only"))
    // reserved metadata names refused at DDL
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $ns.p_resv (id BIGINT, _pos BIGINT) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    }
    assert(e2.getMessage.contains("reserved"))
    // switching positional → keyed with live vectors refused (id is
    // NOT NULL here so only the live-vector guard can be the refusal)
    val t = freshTable("p_alter")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.dml.key'='id')")
    }
    assert(e3.getMessage.contains("live"))
  }

  /** Skip-stats file pruning of the DML delta scan (round 22): with
    * `graft.skipping.by` declared, a DELETE/UPDATE condition — and a
    * MERGE condition's target-side implications, derived across the
    * equi-join from the source's constraints — drop files whose
    * recorded min/max range provably excludes any match. Pruning is
    * scan-cost only: results, DV manifests (appliesTo = the full
    * partition-pruned universe) and the conflict check are unchanged. */
  test("skip-stats file pruning scopes the positional DELETE/MERGE delta scan") {
    val t = freshTable("p_skipdml")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v DOUBLE, p STRING)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.skipping.by'='id')
         |""".stripMargin)
    // disjoint id ranges per INSERT: every file of a commit is bounded
    // by that commit's values, whatever the file count
    spark.sql(s"INSERT INTO $t VALUES (1, 1.0, 'a'), (2, 2.0, 'a')")
    spark.sql(s"INSERT INTO $t VALUES (100, 10.0, 'a'), (101, 11.0, 'a')")
    spark.sql(s"INSERT INTO $t VALUES (3, 3.0, 'b'), (4, 4.0, 'b')")
    val skipped = graft.plans.ResolveDeletionVectors.skippedDeltaFiles

    // DELETE: id >= 100 excludes the low-range files of BOTH partitions
    skipped.set(0)
    spark.sql(s"DELETE FROM $t WHERE id >= 100 AND v < 11.0")
    assert(skipped.get >= 2,
      s"low-range files must be pruned from the DELETE scan, got ${skipped.get}")
    // the batch still applies to the FULL partition-pruned universe
    val m1 = meta(t)
    val (_, applies1, _) = graft.catalog.write.DvManifest.read(
      spark.sessionState.newHadoopConf(), m1.deleteVectors.head.manifest).get
    assert(applies1.exists(_.contains("p=b")),
      "appliesTo stays the full universe (pruning is scan-only)")

    // MERGE: the source's id range carries across ON tgt.id = s.sid,
    // so only the high-range files are scanned
    skipped.set(0)
    spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT id AS sid, v AS sv FROM $t WHERE id BETWEEN 100 AND 200) s
         |ON $t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = $t.v + 1000.0
         |""".stripMargin)
    assert(skipped.get >= 2,
      s"MERGE must prune low-range files via derived bounds, got ${skipped.get}")
    assert(rows(t) === Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"),
      (4L, 4.0, "b"), (101L, 1011.0, "a")))

    // NOT MATCHED BY SOURCE affects UNMATCHED target rows — the derived
    // bounds are unsound there and must not prune anything
    skipped.set(0)
    spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT id AS sid FROM $t WHERE id BETWEEN 100 AND 200) s
         |ON $t.id = s.sid
         |WHEN NOT MATCHED BY SOURCE AND id = 3 THEN DELETE
         |""".stripMargin)
    assert(skipped.get === 0,
      s"not-matched-by-source must never prune, got ${skipped.get}")
    assert(rows(t) === Seq((1L, 1.0, "a"), (2L, 2.0, "a"),
      (4L, 4.0, "b"), (101L, 1011.0, "a")))
  }
}
