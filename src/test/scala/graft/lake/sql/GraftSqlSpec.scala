package graft.lake.sql

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

import graft.SparkSuite

/** Replays the reference demo THROUGH spark.sql ONLY — the UX the
  * reference actually ships (notebooks/iceberg_pii_deletion_demo.py):
  * DDL, DML, time travel, metadata tables, and CALL maintenance, with
  * no Scala-API calls on the table. */
class GraftSqlSpec extends SparkSuite {

  private var n = 0
  private def freshNs(): String = { n += 1; s"pii_$n${System.nanoTime()}" }

  private def createPii(ns: String, props: String = ""): String = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.pii_data"
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  case_id STRING, first_name STRING, email_address STRING,
         |  key_nm STRING, secure_txt STRING, secure_key STRING,
         |  update_date DATE)
         |USING graft $props""".stripMargin)
    spark.sql(
      s"""INSERT INTO $tbl VALUES
         |('case-1','John','john.doe@example.com','key1','secret text 1','secret_key_1',DATE'2023-01-01'),
         |('case-2','Jane','jane.roe@example.com','key2','secret text 2','secret_key_2',DATE'2023-01-02'),
         |('case-3','Alice','alice@example.com','key3','secret text 3','secret_key_3',DATE'2023-01-03')""".stripMargin)
    tbl
  }

  private def ids(tbl: String): Seq[String] =
    spark.sql(s"SELECT case_id FROM $tbl ORDER BY case_id")
      .collect().map(_.getString(0)).toSeq

  private def snapshotIds(tbl: String): Seq[Long] =
    spark.sql(s"SELECT snapshot_id FROM $tbl.snapshots ORDER BY committed_at")
      .collect().map(_.getLong(0)).toSeq

  test("PARTITIONED BY transforms (days/bucket/truncate) flow to " +
    "clustering, survive DESCRIBE round-trip, and prune reads") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.ev"
    spark.sql(
      s"""CREATE TABLE $tbl (
         |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT)
         |USING graft
         |PARTITIONED BY (days(ts), bucket(4, user_id))
         |TBLPROPERTIES ('write.clustered-by.files'='8')""".stripMargin)
    // the transform spec round-trips through the catalog property
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.clustered-by") === "days(ts),bucket(4,user_id)")
    // DESCRIBE surfaces the transforms as partitioning
    val desc = spark.sql(s"DESCRIBE $tbl").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("days(ts)") && desc.contains("bucket(4, user_id)"),
      s"transforms missing from DESCRIBE:\n$desc")
    spark.sql(s"INSERT INTO $tbl SELECT id, " +
      "timestampadd(DAY, CAST(id % 4 AS INT), " +
      "TIMESTAMP_NTZ'2024-03-01 00:00:00'), id % 50 FROM range(2000)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl " +
      "WHERE ts >= TIMESTAMP_NTZ'2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP_NTZ'2024-03-03 00:00:00'").collect()
      .head.getLong(0) === 500)
    // partitions relation renders the transform-derived ranges
    val parts = spark.sql(s"SELECT * FROM $tbl.partitions").collect()
    assert(parts.forall(_.getAs[String]("cluster_columns") ===
      "days(ts),bucket(4,user_id)"))
    assert(parts.exists(_.getAs[String]("range_min").startsWith("2024-03-")))
    // the full time ladder is accepted and round-trips canonically
    spark.sql(s"CREATE TABLE graft.$ns.ladder (ts TIMESTAMP_NTZ) " +
      "USING graft PARTITIONED BY (hours(ts))")
    spark.sql(s"CREATE TABLE graft.$ns.ladder2 (ts TIMESTAMP_NTZ) " +
      "USING graft PARTITIONED BY (months(ts), years(ts))")
    val p2 = spark.sql(s"SHOW TBLPROPERTIES graft.$ns.ladder2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(p2("write.clustered-by") === "months(ts),years(ts)")
  }

  test("CALL expire_snapshots with retain_last only: keeps the newest n, " +
    "older_than defaults to now (README.md:88-93 companion form)") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(s"INSERT INTO $tbl VALUES ('case-4', 'Kim', " +
      "'kim@example.com', 'key4', 'secret 4', 'sk4', DATE'2023-01-04')")
    spark.sql(s"INSERT INTO $tbl VALUES ('case-5', 'Lee', " +
      "'lee@example.com', 'key5', 'secret 5', 'sk5', DATE'2023-01-05')")
    val before = snapshotIds(tbl)
    assert(before.length === 3)
    Thread.sleep(5) // commits land strictly before the implicit cutoff
    val expired = spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => '$ns.pii_data', retain_last => 2)")
      .collect().map(_.getLong(0)).toSeq
    assert(expired === before.take(1))
    assert(snapshotIds(tbl) === before.takeRight(2))
    // retained snapshots still time-travel; the expired one refuses
    assert(spark.sql(s"SELECT case_id FROM $tbl VERSION AS OF " +
      s"${before(1)}").count() === 4)
    intercept[Exception](spark.sql(
      s"SELECT * FROM $tbl VERSION AS OF ${before.head}").collect())
  }

  test("demo lifecycle through spark.sql only: DDL, INSERT, MOR DELETE, " +
    "COW UPDATE, time travel, metadata tables (demo.py:67-262)") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='copy-on-write')")
    assert(ids(tbl) === Seq("case-1", "case-2", "case-3"))

    // ALTER TABLE ... SET TBLPROPERTIES flips to merge-on-read
    // (demo.py:166-171)
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.delete.mode") === "merge-on-read")

    val preDelete = snapshotIds(tbl).last

    // DELETE FROM ... WHERE under MOR: row masked, data file intact,
    // a content=1 delete file appears (demo.py:177-205)
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    assert(ids(tbl) === Seq("case-1", "case-3"))
    val files = spark.sql(
      s"SELECT content, file_path FROM $tbl.files").collect()
    assert(files.count(_.getInt(0) == 1) === 1, "one position-delete file")
    files.foreach(r => assert(Files.exists(Path.of(r.getString(1))),
      "physical files all on disk under MOR"))

    // time travel: the PII is still visible at the pre-delete snapshot
    // (demo.py:254-262)
    val back = spark.sql(
      s"SELECT case_id FROM $tbl VERSION AS OF $preDelete")
      .collect().map(_.getString(0)).sorted
    assert(back.toSeq === Seq("case-1", "case-2", "case-3"))

    // COW UPDATE nullifies in place (demo.py:228-235)
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('write.update.mode'='copy-on-write')")
    spark.sql(s"UPDATE $tbl SET secure_txt = NULL, " +
      s"secure_key = 'REDACTED' WHERE case_id = 'case-1'")
    val updated = spark.sql(s"SELECT secure_txt, secure_key FROM $tbl " +
      "WHERE case_id = 'case-1'").collect()
    assert(updated.toSeq === Seq(Row(null, "REDACTED")))

    // metadata tables: history/snapshots line up with the operations
    val ops = spark.sql(s"SELECT operation FROM $tbl.snapshots " +
      "ORDER BY committed_at").collect().map(_.getString(0)).toSeq
    assert(ops === Seq("append", "delete", "overwrite"))
    assert(spark.sql(s"SELECT * FROM $tbl.history").count() === 3)
    assert(spark.sql(
      s"SELECT * FROM $tbl.all_entries WHERE status = 1").count() > 0)
    // content-split and all-snapshot relations resolve as fourth-part
    // identifiers and partition their parents exactly
    val nFiles = spark.sql(s"SELECT * FROM $tbl.files").count()
    assert(spark.sql(s"SELECT * FROM $tbl.data_files").count() +
      spark.sql(s"SELECT * FROM $tbl.delete_files").count() === nFiles)
    val nAll = spark.sql(s"SELECT * FROM $tbl.all_files").count()
    assert(spark.sql(s"SELECT * FROM $tbl.all_data_files").count() +
      spark.sql(s"SELECT * FROM $tbl.all_delete_files").count() === nAll)
    assert(nAll >= nFiles)
    assert(spark.sql(s"SELECT * FROM $tbl.entries").select("snapshot_id")
      .distinct().count() === 1)
    // manifests = the current snapshot's manifest SEGMENTS: the MOR
    // delete's tombstone segment (reused verbatim through the COW
    // update) plus the update's new data segment
    assert(spark.sql(s"SELECT * FROM $tbl.manifests").count() === 2)
    // and the compaction procedure folds them back into one
    spark.sql(
      s"CALL graft.system.rewrite_manifests(table => '$ns.pii_data')")
    assert(spark.sql(s"SELECT * FROM $tbl.manifests").count() === 1)
  }

  test("INSERT INTO ... SELECT and INSERT OVERWRITE") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(s"INSERT INTO $tbl SELECT * FROM $tbl WHERE " +
      "case_id = 'case-1'")
    assert(ids(tbl) === Seq("case-1", "case-1", "case-2", "case-3"))
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM $tbl " +
      "WHERE case_id = 'case-3'")
    assert(ids(tbl) === Seq("case-3"))
  }

  test("ALTER TABLE UNSET TBLPROPERTIES actually deletes the key " +
    "(a merge would silently resurrect it)") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'tag'='x')")
    def props() = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("tag") === Some("x"))
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('tag')")
    assert(!props().contains("tag"), "UNSET must remove the property")
    // UNSET of one key together with SET of another, one statement each
    spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES " +
      "('write.delete.mode')")
    assert(!props().contains("write.delete.mode"))
    // table falls back to the default delete mode (copy-on-write)
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    assert(spark.sql(s"SELECT * FROM $tbl.files WHERE content = 1")
      .count() === 0, "COW delete after UNSET must not write delete files")
    assert(ids(tbl) === Seq("case-1", "case-3"))
  }

  test("INSERT OVERWRITE is ONE atomic replace snapshot: no " +
    "intermediate truncate commit, no MOR delete files, time travel " +
    "still sees the old rows") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val preOverwrite = snapshotIds(tbl).last
    val snapsBefore = snapshotIds(tbl).size
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM $tbl " +
      "WHERE case_id = 'case-3'")
    assert(ids(tbl) === Seq("case-3"))
    // exactly ONE new snapshot, operation=overwrite — not a
    // delete snapshot followed by an append snapshot
    val ops = spark.sql(s"SELECT operation FROM $tbl.snapshots " +
      "ORDER BY committed_at").collect().map(_.getString(0)).toSeq
    assert(ops.size === snapsBefore + 1,
      s"overwrite must be a single commit, got $ops")
    assert(ops.last === "overwrite")
    // merge-on-read mode must NOT have written a whole-table
    // position-delete pass just to truncate
    assert(spark.sql(s"SELECT * FROM $tbl.files WHERE content = 1")
      .count() === 0, "atomic overwrite writes no delete files")
    // prior snapshot still readable (nothing physically deleted)
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF $preOverwrite")
      .count() === 3)
  }

  test("DROP COLUMN prunes it from write.clustered-by in the same " +
    "commit, so later appends don't range-cluster on a ghost column") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val tbl = s"graft.$ns.clustered"
    spark.sql(s"CREATE TABLE $tbl (k STRING, v BIGINT, note STRING) " +
      "USING graft PARTITIONED BY (k, v)")
    spark.sql(s"INSERT INTO $tbl VALUES ('a', 1, 'x'), ('b', 2, 'y')")
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.clustered-by") === Some("k"),
      "dropped column must leave the clustering spec")
    // the table is still appendable (this used to throw on the
    // missing clustering column)
    spark.sql(s"INSERT INTO $tbl VALUES ('c', 'z')")
    assert(spark.sql(s"SELECT k FROM $tbl ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    // dropping the last clustering column removes the property
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN k")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!props2.contains("write.clustered-by"))
    spark.sql(s"INSERT INTO $tbl VALUES ('w')")
    assert(spark.sql(s"SELECT * FROM $tbl").count() === 4)
  }

  test("CALL create_changelog_view: CDC rows queryable via SQL " +
    "(Iceberg create_changelog_view semantics)") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    val view = spark.sql(
      s"CALL graft.system.create_changelog_view(table => '$tbl', " +
        "changelog_view => 'pii_changes')")
      .collect().head.getString(0)
    assert(view === "pii_changes")
    val changes = spark.sql(
      "SELECT _change_type, case_id FROM pii_changes " +
        "ORDER BY _change_ordinal, _change_type, case_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(changes === Seq(
      ("insert", "case-1"), ("insert", "case-2"), ("insert", "case-3"),
      ("delete", "case-2")))
  }

  test("CALL create_changelog_view(compute_updates => true) pairs a " +
    "COW update's delete+insert into update images and drops carryovers") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='copy-on-write')")
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    spark.sql(s"UPDATE $tbl SET email_address = NULL " +
      "WHERE case_id = 'case-1'")
    // compute_updates without identifiers must refuse
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.create_changelog_view(table => '$tbl', " +
        "changelog_view => 'bad_view', compute_updates => true)")
      .collect())
    assert(e.getMessage.contains("identifier_columns"), e.getMessage)
    spark.sql(
      s"CALL graft.system.create_changelog_view(table => '$tbl', " +
        "changelog_view => 'pii_updates', compute_updates => true, " +
        "identifier_columns => 'case_id')").collect()
    val got = spark.sql(
      "SELECT _change_type, case_id, email_address IS NULL " +
        "FROM pii_updates " +
        "ORDER BY _change_ordinal, _change_type, case_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(got === Seq(
      ("insert", "case-1", false), ("insert", "case-2", false),
      ("insert", "case-3", false),
      ("delete", "case-2", false),
      // the COW window: ONLY the case-1 image pair — case-3's carried
      // delete+insert pair is gone
      ("update_after", "case-1", true),
      ("update_before", "case-1", false)))
  }

  test("CALL create_changelog_view(net_changes => true) nets to the " +
    "final state delta and refuses compute_updates") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='copy-on-write', " +
        "'write.update.mode'='copy-on-write')")
    spark.sql(s"UPDATE $tbl SET email_address = NULL " +
      "WHERE case_id = 'case-1'")
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    spark.sql(
      s"CALL graft.system.create_changelog_view(table => '$tbl', " +
        "changelog_view => 'pii_net', net_changes => true)").collect()
    val got = spark.sql(
      "SELECT _change_type, case_id, email_address IS NULL " +
        "FROM pii_net ORDER BY case_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    // case-2 inserted then deleted inside the window -> vanishes;
    // case-1 surfaces ONCE with its final (nullified) image; case-3
    // keeps only its seed insert (COW carried copies netted out)
    assert(got === Seq(
      ("insert", "case-1", true), ("insert", "case-3", false)))
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.create_changelog_view(table => '$tbl', " +
        "changelog_view => 'bad', net_changes => true, " +
        "compute_updates => true, identifier_columns => 'case_id')")
      .collect())
    assert(e.getMessage.contains("net_changes"), e.getMessage)
  }

  test("spark.graft.bucketLocalJoin also collapses a plain GROUP BY " +
    "on the bucket-clustered key: zero Exchange, identical rows; " +
    "grouping on another column keeps the shuffle") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.ev"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('write.clustered-by'='bucket(4,k)')")
    spark.sql(s"INSERT INTO $tbl SELECT id % 97, id FROM range(5000)")
    val q = s"SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS s " +
      s"FROM $tbl GROUP BY k"
    val want = spark.sql(q).orderBy("k").collect().toSeq
    spark.conf.set("spark.graft.bucketLocalJoin", "true")
    try {
      val routed = spark.sql(q)
      val exchanges = routed.queryExecution.executedPlan.toString
        .split("\n").count(_.contains("Exchange"))
      assert(exchanges === 0,
        s"claimed GROUP BY must not shuffle:\n" +
          routed.queryExecution.executedPlan)
      assert(routed.orderBy("k").collect().toSeq === want)
      // grouping on an unclustered column: no claim, ordinary shuffle
      val other = spark.sql(
        s"SELECT v % 7 AS g, count(*) AS n FROM $tbl GROUP BY v % 7")
      assert(other.queryExecution.executedPlan.toString
        .split("\n").exists(_.contains("Exchange")))
      assert(other.collect().map(_.getLong(1)).sum === 5000L)
    } finally spark.conf.unset("spark.graft.bucketLocalJoin")
  }

  test("spark.graft.runtimeJoinPrune routes an inner join through " +
    "readForJoin: the clustered fact side scans fewer files, rows " +
    "identical; outer joins and unclustered keys never route") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val fact = s"graft.$ns.fact"
    val dim = s"graft.$ns.dim"
    spark.sql(s"CREATE TABLE $fact (k BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('write.clustered-by'='k'," +
      "'write.clustered-by.files'='8')")
    spark.sql(
      s"INSERT INTO $fact SELECT id, id * 3 FROM range(8000)")
    spark.sql(s"CREATE TABLE $dim (dk BIGINT, tag STRING) USING graft")
    spark.sql(s"INSERT INTO $dim SELECT id, concat('t', id) " +
      "FROM range(100, 140)")
    val q = s"SELECT k, v, tag FROM $fact JOIN $dim ON k = dk"
    val want = spark.sql(q).orderBy("k").collect().toSeq
    val allFiles = spark.sql(s"SELECT * FROM $fact").inputFiles.length
    spark.conf.set("spark.graft.runtimeJoinPrune", "true")
    try {
      val routed = spark.sql(q)
      assert(routed.inputFiles.count(_.contains("/fact/")) < allFiles,
        s"fact side must scan fewer files:\n${routed.inputFiles.toSeq}")
      assert(routed.orderBy("k").collect().toSeq === want)
      // outer join: the fact side is preserved — must NOT route
      val outer = spark.sql(
        s"SELECT k, tag FROM $fact LEFT JOIN $dim ON k = dk")
      assert(outer.inputFiles.count(_.contains("/fact/")) === allFiles)
      assert(outer.count() === 8000L)
      // unclustered key: no stats layout to prune by — no route
      val unrouted = spark.sql(
        s"SELECT v, tag FROM $fact JOIN $dim ON v = dk * 3")
      assert(unrouted.inputFiles.count(_.contains("/fact/")) === allFiles)
      // an equi-pair under OR must NOT route: pruning to k IN keys
      // would drop the rows matching only the second disjunct
      // (k = dk + 4000 hits k in 4100..4139 — outside the dim band)
      val orJoin = spark.sql(s"SELECT k, tag FROM $fact JOIN $dim " +
        "ON k = dk OR k = dk + 4000")
      assert(orJoin.inputFiles.count(_.contains("/fact/")) === allFiles,
        "disjunctive conditions must keep the scan-all read")
      assert(orJoin.count() === 80L,
        "both disjuncts' rows must survive (40 + 40)")
    } finally spark.conf.unset("spark.graft.runtimeJoinPrune")
  }

  test("CALL register_table adopts an external table without moving " +
    "data: SQL reads/writes flow through, drop removes only the " +
    "pointer, the original handle shares commits") {
    import org.apache.spark.sql.types.StructType
    import graft.lake.GraftTable
    import scala.jdk.CollectionConverters._
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    // a table living OUTSIDE the catalog warehouse (another pipeline's
    // output, a restored backup...)
    val ext = graft.ScratchDirs.create("graft-reg-").resolve("t")
    val sch = StructType.fromDDL("k BIGINT, v STRING")
    val orig = GraftTable.create(spark, ext, "x.t", sch, Map.empty)
    orig.append(spark.createDataFrame(
      Seq(Row(1L, "a"), Row(2L, "b")).asJava, sch))
    val snap = spark.sql(
      s"CALL graft.system.register_table(table => '$ns.reg', " +
        s"location => '$ext')").collect().head.getLong(1)
    assert(snap === orig.currentSnapshot.get.snapshotId)
    // reads and writes flow through the catalog name...
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.reg")
      .collect()(0).getLong(0) === 2L)
    spark.sql(s"INSERT INTO graft.$ns.reg VALUES (3, 'c')")
    // ...and the ORIGINAL handle sees them (one shared metadata dir)
    assert(orig.read().count() === 3L)
    // double registration refuses
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.register_table(table => '$ns.reg', " +
        s"location => '$ext')").collect())
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // drop removes only the pointer — the external table survives
    spark.sql(s"DROP TABLE graft.$ns.reg")
    intercept[Exception](
      spark.sql(s"SELECT * FROM graft.$ns.reg").collect())
    assert(GraftTable.load(spark, ext).read().count() === 3L)
    // a STALE pointer (target vanished) must refuse CREATE TABLE
    // under its name — the new table would be invisible behind it
    val wh2 = graft.ScratchDirs.create("graft-reg2-")
    val cat2 = new graft.lake.GraftCatalog(spark, wh2.resolve("wh"))
    cat2.createNamespace("d")
    val tgt = wh2.resolve("gone")
    val src2 = GraftTable.create(spark, tgt, "x.g", sch, Map.empty)
    src2.append(spark.createDataFrame(Seq(Row(1L, "a")).asJava, sch))
    cat2.registerTable("d", "pt", tgt)
    // simulate the target being rotated away
    val walk = java.nio.file.Files.walk(tgt)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    assert(!cat2.tableExists("d", "pt"))
    val e3 = intercept[IllegalArgumentException](
      cat2.createTable("d", "pt",
        org.apache.spark.sql.types.StructType.fromDDL("x INT")))
    assert(e3.getMessage.contains("stale registration pointer"),
      e3.getMessage)
    cat2.dropTable("d", "pt") // the documented remedy, then create works
    cat2.createTable("d", "pt",
      org.apache.spark.sql.types.StructType.fromDDL("x INT"))
    assert(cat2.tableExists("d", "pt"))
  }

  test("CALL snapshot forks a table zero-copy: same rows, independent " +
    "writes, expiry on the fork refuses (gc.enabled=false), source " +
    "untouched; MOR-delete sources refuse") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val src = s"graft.$ns.src"
    spark.sql(s"CREATE TABLE $src (k BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO $src SELECT id, concat('v', id) FROM range(100)")
    val srcFilesBefore = spark.sql(s"SELECT * FROM $src").inputFiles.toSet
    spark.sql(s"CALL graft.system.snapshot(" +
      s"source_table => '$ns.src', table => '$ns.fork')").collect()
    val fork = s"graft.$ns.fork"
    // zero copy: the fork reads the SOURCE's files
    assert(spark.sql(s"SELECT * FROM $fork").inputFiles.toSet ===
      srcFilesBefore)
    assert(spark.sql(s"SELECT count(*) FROM $fork").collect()(0)
      .getLong(0) === 100L)
    // independent writes: fork DML never shows up in the source
    spark.sql(s"INSERT INTO $fork VALUES (777, 'fork-only')")
    spark.sql(s"DELETE FROM $fork WHERE k < 10")
    assert(spark.sql(s"SELECT count(*) FROM $fork").collect()(0)
      .getLong(0) === 91L)
    assert(spark.sql(s"SELECT count(*) FROM $src").collect()(0)
      .getLong(0) === 100L)
    assert(spark.sql(s"SELECT * FROM $src").inputFiles.toSet ===
      srcFilesBefore, "source files must survive fork DML")
    // gc refusal: expiry on the fork would delete borrowed bytes
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.expire_snapshots(table => '$ns.fork')")
      .collect())
    assert(e.getMessage.contains("gc.enabled"), e.getMessage)
    // the fleet scheduler must SKIP expiry on a fork, not crash: an
    // inherited expire policy yields no expire action and no error
    spark.sql(s"ALTER TABLE $fork SET TBLPROPERTIES " +
      "('maintenance.expire.max-age-ms'='1')")
    val acts = spark.sql(s"CALL graft.system.maintain(table => '$ns.fork')")
      .collect().map(_.getString(0)).toSeq
    assert(!acts.contains("expire-snapshots"), s"got $acts")
    // MOR-delete sources refuse until compacted
    spark.sql(s"ALTER TABLE $src SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $src WHERE k = 50")
    val e2 = intercept[Exception](spark.sql(
      s"CALL graft.system.snapshot(" +
        s"source_table => '$ns.src', table => '$ns.fork2')").collect())
    assert(e2.getMessage.contains("rewrite_data_files"), e2.getMessage)
  }

  test("stored NDV (compute_table_stats) drives the runtime-prune " +
    "decision: an over-maxKeys unfiltered dim REFUSES with zero dim " +
    "jobs, a small-NDV dim routes, a filtered dim ignores the stored " +
    "refuse, and <t>.stats reads back through SQL") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val fact = s"graft.$ns.fact"
    spark.sql(s"CREATE TABLE $fact (k BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('write.clustered-by'='k'," +
      "'write.clustered-by.files'='8')")
    spark.sql(s"INSERT INTO $fact SELECT id, id * 3 FROM range(8000)")
    val big = s"graft.$ns.dimbig"
    spark.sql(s"CREATE TABLE $big (dk BIGINT, tag STRING) USING graft")
    spark.sql(s"INSERT INTO $big SELECT id, concat('t', id) " +
      "FROM range(500)")
    val small = s"graft.$ns.dimsmall"
    spark.sql(s"CREATE TABLE $small (dk BIGINT, tag STRING) USING graft")
    spark.sql(s"INSERT INTO $small SELECT id, concat('t', id) " +
      "FROM range(100, 140)")
    // ANALYZE both dims through the CALL surface
    val analyzed = spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.dimbig')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(analyzed("dk") - 500L) <= 75,
      s"dk NDV ${analyzed("dk")} off by >15%")
    spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.dimsmall', columns => array('dk'))").collect()
    // the .stats metadata relation resolves as a fourth identifier part
    val st = spark.sql(s"SELECT column, ndv, stale FROM $big.stats " +
      "ORDER BY column").collect()
    assert(st.map(_.getString(0)).toSeq === Seq("dk", "tag"))
    assert(!st.head.getBoolean(2), "fresh right after ANALYZE")
    val allFiles = spark.sql(s"SELECT * FROM $fact").inputFiles.length
    spark.conf.set("spark.graft.runtimeJoinPrune", "true")
    spark.conf.set("spark.graft.runtimeJoinPrune.maxKeys", "100")
    try {
      // over-maxKeys UNFILTERED dim: stored NDV (≈500 > 100) refuses
      // the route before the dim subplan ever runs — ANALYSIS of the
      // join launches zero Spark jobs (without stats it would pay a
      // bounded dim collect just to discover the overflow)
      val (refused, refusedJobs) =
        graft.SparkJobs.count(spark.sparkContext) {
          val df = spark.sql(
            s"SELECT k, v, tag FROM $fact JOIN $big ON k = dk")
          df.queryExecution.assertAnalyzed()
          df
        }
      assert(refusedJobs === 0,
        "stored-NDV refuse must not run any pre-plan job")
      assert(refused.inputFiles.count(_.contains("/fact/")) === allFiles,
        "refused route keeps the scan-all fact read")
      assert(refused.count() === 500L, "rows stay correct either way")
      // the same shape WITHOUT stored stats pays the bounded collect
      val noStats = s"graft.$ns.dimnostats"
      spark.sql(s"CREATE TABLE $noStats (dk BIGINT, tag STRING) " +
        "USING graft")
      spark.sql(s"INSERT INTO $noStats SELECT id, concat('t', id) " +
        "FROM range(500)")
      val (_, probeJobs) = graft.SparkJobs.count(spark.sparkContext)(
        spark.sql(s"SELECT k, v, tag FROM $fact JOIN $noStats ON k = dk")
          .queryExecution.assertAnalyzed())
      assert(probeJobs > 0,
        "without stored NDV the route must probe the dim (collect)")
      // a small analyzed NDV still routes: fact scans fewer files
      val routed = spark.sql(
        s"SELECT k, v, tag FROM $fact JOIN $small ON k = dk")
      assert(routed.inputFiles.count(_.contains("/fact/")) < allFiles,
        "small stored NDV must keep the route")
      assert(routed.count() === 40L)
      // a FILTERED over-NDV dim routes despite the stored refuse: the
      // filter may cut the key set under the bound (and does here)
      val filtered = spark.sql(s"SELECT k, v, tag FROM $fact " +
        s"JOIN (SELECT * FROM $big WHERE dk < 20) ON k = dk")
      assert(filtered.inputFiles.count(_.contains("/fact/")) < allFiles,
        "a filtered dim side must ignore the whole-table NDV")
      assert(filtered.count() === 20L)
    } finally {
      spark.conf.unset("spark.graft.runtimeJoinPrune")
      spark.conf.unset("spark.graft.runtimeJoinPrune.maxKeys")
    }
  }

  test("a STALE stored NDV never refuses the runtime-prune route: a " +
    "dim mass-deleted under maxKeys after ANALYZE falls back to the " +
    "bounded probe (which self-vets) instead of scanning-all forever") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val fact = s"graft.$ns.fact"
    spark.sql(s"CREATE TABLE $fact (k BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('write.clustered-by'='k'," +
      "'write.clustered-by.files'='8')")
    spark.sql(s"INSERT INTO $fact SELECT id, id * 3 FROM range(8000)")
    val dim = s"graft.$ns.dim"
    spark.sql(s"CREATE TABLE $dim (dk BIGINT, tag STRING) USING graft")
    spark.sql(s"INSERT INTO $dim SELECT id, concat('t', id) " +
      "FROM range(500)")
    spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.dim')").collect()
    // mass delete: the live domain is 50 keys; the sketch still says
    // ~500 — a stale-HIGH reading
    spark.sql(s"DELETE FROM $dim WHERE dk >= 50")
    val st = spark.sql("SELECT stale, ndv, commits_since_fold FROM " +
      s"$dim.stats WHERE column = 'dk'").collect().head
    assert(st.getBoolean(0), "the delete must flip stale")
    assert(st.getLong(1) > 100L, "the stale estimate still reads high")
    assert(st.getLong(2) === 1L, "one commit since the fold point")
    spark.conf.set("spark.graft.runtimeJoinPrune", "true")
    spark.conf.set("spark.graft.runtimeJoinPrune.maxKeys", "100")
    try {
      val allFiles = spark.sql(s"SELECT * FROM $fact").inputFiles.length
      val joined = spark.sql(
        s"SELECT k, v, tag FROM $fact JOIN $dim ON k = dk")
      assert(joined.inputFiles.count(_.contains("/fact/")) < allFiles,
        "a stale-HIGH sketch must fall back to the probe and ROUTE — " +
          "refusing on it would disable the prune until a re-ANALYZE")
      assert(joined.count() === 50L)
    } finally {
      spark.conf.unset("spark.graft.runtimeJoinPrune")
      spark.conf.unset("spark.graft.runtimeJoinPrune.maxKeys")
    }
  }

  test("CALL refold_column_stats repairs NDV after a mass delete from " +
    "per-file sketches — rows returned, .stats fresh; an ineligible " +
    "(MOR-masked) table returns zero rows and compute_table_stats " +
    "remains the fallback") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val t = s"graft.$ns.rf"
    spark.sql(s"CREATE TABLE $t (k BIGINT, grp BIGINT) USING graft")
    spark.sql(s"INSERT INTO $t SELECT id, id % 10 FROM range(200)")
    spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.rf', columns => array('k'))").collect()
    spark.sql(s"DELETE FROM $t WHERE k >= 100")
    assert(spark.sql(s"SELECT stale FROM $t.stats WHERE column = 'k'")
      .head.getBoolean(0), "the delete must flip stale")
    val refolded = spark.sql("CALL graft.system.refold_column_stats(" +
      s"table => '$ns.rf')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(refolded === Map("k" -> 100L),
      s"refold must be exact below k, got $refolded")
    assert(!spark.sql(s"SELECT stale FROM $t.stats WHERE column = 'k'")
      .head.getBoolean(0), ".stats must read fresh after the refold")
    // MOR-masked: live delete files refuse — zero rows, stats stale
    val tm = s"graft.$ns.rfm"
    spark.sql(s"CREATE TABLE $tm (k BIGINT) USING graft " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $tm SELECT id FROM range(50)")
    spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.rfm')").collect()
    spark.sql(s"DELETE FROM $tm WHERE k < 10")
    assert(spark.sql("CALL graft.system.refold_column_stats(" +
      s"table => '$ns.rfm')").collect().isEmpty,
      "masked rows must refuse the refold through SQL too")
    val re = spark.sql("CALL graft.system.compute_table_stats(" +
      s"table => '$ns.rfm')").collect()
    assert(re.map(r => r.getString(0) -> r.getLong(1)).toMap
      .apply("k") === 40L, "the corpus re-scan stays the fallback")
  }

  test("CALL migrate converts a plain parquet directory in place: the " +
    "old name serves the new graft table, the backup stays readable, " +
    "drop_backup renames bytes in, and failure leaves the source " +
    "intact") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val wh = Path.of(spark.conf.get("spark.sql.catalog.graft.warehouse"))
    // a "legacy" non-graft table: a directory of raw parquet files
    val src = wh.resolve(ns).resolve("legacy")
    spark.range(100).selectExpr("id", "id % 7 AS grp")
      .repartition(3).write.parquet(src.toString)
    val out = spark.sql(
      s"CALL graft.system.migrate(table => '$ns.legacy')").collect()
    assert(out.head.getString(0) === s"$ns.legacy")
    assert(out.head.getLong(1) === 3L, "3 repartitioned files migrate")
    val backupLoc = out.head.getString(2)
    assert(backupLoc.endsWith("legacy_backup_"))
    // the OLD NAME serves the new graft table: reads, metadata
    // relations, and DML all work; bytes were adopted in place
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.legacy")
      .head.getLong(0) === 100L)
    assert(spark.sql(s"SELECT * FROM graft.$ns.legacy").inputFiles
      .forall(_.contains("legacy_backup_")),
      "keep-backup migrate must adopt bytes in place, not copy")
    assert(spark.sql(
      s"SELECT operation FROM graft.$ns.legacy.snapshots")
      .collect().map(_.getString(0)).toSeq === Seq("append"))
    spark.sql(s"DELETE FROM graft.$ns.legacy WHERE grp = 0")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.legacy")
      .head.getLong(0) === 85L, "ids 0,7,…,98 deleted")
    // the backup remains byte-complete raw parquet, unaffected by DML
    assert(spark.read.parquet(backupLoc).count() === 100L)
    // shared bytes: gc is disabled on the migrated table
    val eGc = intercept[Exception](spark.sql(
      s"CALL graft.system.expire_snapshots(table => '$ns.legacy')")
      .collect())
    assert(eGc.getMessage.contains("gc.enabled"), eGc.getMessage)
    // drop_backup => true: files RENAME into the table (no copy), the
    // backup disappears, the table owns its bytes (gc works)
    val src2 = wh.resolve(ns).resolve("legacy2")
    spark.range(50).selectExpr("id", "id % 3 AS grp")
      .repartition(2).write.parquet(src2.toString)
    val out2 = spark.sql(s"CALL graft.system.migrate(" +
      s"table => '$ns.legacy2', drop_backup => true)").collect()
    assert(out2.head.getLong(1) === 2L)
    assert(out2.head.isNullAt(2), "no backup location when dropped")
    assert(!Files.exists(wh.resolve(ns).resolve("legacy2_backup_")))
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.legacy2")
      .head.getLong(0) === 50L)
    assert(spark.sql(s"SELECT * FROM graft.$ns.legacy2").inputFiles
      .forall(_.contains("legacy2/data")),
      "drop_backup bytes must live under the table's own data dir")
    spark.sql(s"INSERT INTO graft.$ns.legacy2 VALUES (999, 0)")
    spark.sql(s"CALL graft.system.expire_snapshots(" +
      s"table => '$ns.legacy2', retain_last => 1)").collect()
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.legacy2")
      .head.getLong(0) === 51L)
    // refusals leave the source intact under its original name:
    // (a) no parquet files in the directory
    val src3 = wh.resolve(ns).resolve("legacy3")
    Files.createDirectories(src3)
    Files.write(src3.resolve("notes.txt"), "not a table".getBytes)
    val e3 = intercept[Exception](spark.sql(
      s"CALL graft.system.migrate(table => '$ns.legacy3')").collect())
    assert(e3.getMessage.contains("no parquet files"), e3.getMessage)
    assert(Files.exists(src3.resolve("notes.txt")),
      "failed migrate must leave the source untouched")
    // (b) an already-graft table refuses
    val e4 = intercept[Exception](spark.sql(
      s"CALL graft.system.migrate(table => '$ns.legacy')").collect())
    assert(e4.getMessage.contains("already a graft table"), e4.getMessage)
    // (c) a stale backup target refuses before touching the source
    val src4 = wh.resolve(ns).resolve("legacy4")
    spark.range(5).write.parquet(src4.toString)
    Files.createDirectories(wh.resolve(ns).resolve("legacy4_backup_"))
    val e5 = intercept[Exception](spark.sql(
      s"CALL graft.system.migrate(table => '$ns.legacy4')").collect())
    assert(e5.getMessage.contains("backup target"), e5.getMessage)
    assert(spark.read.parquet(src4.toString).count() === 5L,
      "refused migrate must leave the source readable in place")
    // (d) a hive-partitioned layout with a NULL partition
    // (__HIVE_DEFAULT_PARTITION__) refuses rewrite-free adoption —
    // a synthesized null would need its own nullCount/pruning story —
    // and the refusal tears down cleanly: source back under its name,
    // readable, no half-created table
    val src5 = wh.resolve(ns).resolve("legacy5")
    spark.range(20)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN id % 3 END AS grp")
      .write.partitionBy("grp").parquet(src5.toString)
    val e6 = intercept[Exception](spark.sql(
      s"CALL graft.system.migrate(table => '$ns.legacy5')").collect())
    assert(e6.getMessage.contains("null partition"), e6.getMessage)
    assert(spark.read.parquet(src5.toString).count() === 20L,
      "refused migrate must leave the partitioned source readable")
    assert(!Files.exists(wh.resolve(ns).resolve("legacy5_backup_")),
      "refused adoption must not leave a backup behind")
    val eGone = intercept[Exception](spark.sql(
      s"SELECT * FROM graft.$ns.legacy5").collect())
    assert(eGone.getMessage.toLowerCase.contains("legacy5"),
      "refused adoption must not leave a half-created table")
    // (e) drop_backup refuses when the dir holds non-parquet user
    // content (the sweep would destroy it); keep-backup still works
    val src6 = wh.resolve(ns).resolve("legacy6")
    spark.range(7).write.parquet(src6.toString)
    Files.write(src6.resolve("export.csv"), "a,b\n1,2\n".getBytes)
    val e7 = intercept[Exception](spark.sql(s"CALL graft.system." +
      s"migrate(table => '$ns.legacy6', drop_backup => true)")
      .collect())
    assert(e7.getMessage.contains("non-parquet content"), e7.getMessage)
    assert(Files.exists(src6.resolve("export.csv")))
    spark.sql(s"CALL graft.system.migrate(table => '$ns.legacy6')")
      .collect()
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.legacy6")
      .head.getLong(0) === 7L)
    assert(Files.exists(wh.resolve(ns).resolve("legacy6_backup_")
      .resolve("export.csv")),
      "keep-backup migrate must carry stray files into the backup")
  }

  test("CALL migrate keep-backup adopts a hive-partitioned source " +
    "REWRITE-FREE: zero data bytes move (byte-identical fingerprints), " +
    "partition columns synthesize at scan time typed by inference, " +
    "partition predicates prune from the manifest tuple alone, and " +
    "post-adoption DML mixes adopted and native files in one scan") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val wh = Path.of(spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val src = wh.resolve(ns).resolve("hlegacy")
    spark.range(300)
      .selectExpr("id",
        "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day",
        "CAST(id % 5 AS INT) AS bucket")
      .write.partitionBy("day", "bucket").parquet(src.toString)
    // fingerprint every data byte BEFORE adoption: rewrite-free means
    // the files under the backup are bit-for-bit the source files
    def fingerprints(root: Path): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(root)
      try all.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          java.util.HexFormat.of().formatHex(
            java.security.MessageDigest.getInstance("MD5")
              .digest(Files.readAllBytes(p))))
        .toMap
      finally all.close()
    }
    val before = fingerprints(src)
    assert(before.size >= 15, s"15 (day,bucket) leaves expected")
    val out = spark.sql(
      s"CALL graft.system.migrate(table => '$ns.hlegacy')").collect()
    assert(out.head.getLong(1) === before.size.toLong)
    val backupLoc = Path.of(out.head.getString(2))
    assert(backupLoc.toString.endsWith("hlegacy_backup_"))
    assert(fingerprints(backupLoc) === before,
      "rewrite-free adoption must leave every data byte identical")
    // the adopted table reads the files where they sit — no copies
    assert(spark.sql(s"SELECT * FROM graft.$ns.hlegacy").inputFiles
      .forall(_.contains("hlegacy_backup_")),
      "keep-backup adoption must reference bytes in place")
    // partition columns synthesize at scan time, TYPED by inference
    val sch = spark.table(s"graft.$ns.hlegacy").schema
    assert(sch("day").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(sch("bucket").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val perDay = spark.sql(s"SELECT day, count(*) AS n FROM " +
      s"graft.$ns.hlegacy GROUP BY day ORDER BY day").collect()
    assert(perDay.length === 3 && perDay.forall(_.getLong(1) === 100L),
      perDay.mkString("; "))
    assert(spark.sql(s"SELECT sum(id) FROM graft.$ns.hlegacy " +
      "WHERE day = DATE'2024-01-02'").head.getLong(0) ===
      (1L until 300L by 3).sum, "synthesized values must align rows")
    // partition predicates prune from the manifest tuple ALONE — the
    // planning must launch zero Spark jobs (no directory listing, no
    // footer reads) and land on exactly the matching leaves
    val t = new graft.lake.GraftCatalog(spark, wh)
      .loadTable(ns, "hlegacy")
    val allFiles = t.read().inputFiles.length
    import org.apache.spark.sql.functions.col
    val (pruned, jobs) = graft.SparkJobs.count(spark.sparkContext) {
      val df = t.readWhere(
        col("day") === java.sql.Date.valueOf("2024-01-02") &&
          col("bucket") === 2)
      (df, df.inputFiles.length)
    }
    assert(jobs === 0,
      "manifest-tuple pruning must plan without running jobs")
    assert(pruned._2 < allFiles / 3,
      s"day+bucket predicate must prune (${pruned._2} of $allFiles)")
    assert(pruned._1.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 300L).filter(i => i % 3 == 1 && i % 5 == 2),
      "pruned read must return exactly the matching rows")
    // DML over the adopted table: COW delete rewrites matched files
    // into the table's own data dir WITH the synthesized columns as
    // real bytes — the next scan unions adopted and native files
    spark.sql(s"DELETE FROM graft.$ns.hlegacy WHERE bucket = 0")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.hlegacy")
      .head.getLong(0) === 240L)
    spark.sql(s"INSERT INTO graft.$ns.hlegacy VALUES " +
      "(1000, DATE'2024-01-01', 1)")
    val mixed = spark.sql(s"SELECT * FROM graft.$ns.hlegacy").inputFiles
    assert(mixed.exists(_.contains("hlegacy_backup_")) &&
      mixed.exists(!_.contains("hlegacy_backup_")),
      "post-DML snapshot must mix adopted and native files")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.hlegacy " +
      "WHERE day = DATE'2024-01-01'").head.getLong(0) === 81L,
      "20 bucket-0 rows deleted from day 1, one row inserted")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.hlegacy " +
      "WHERE bucket = 0").head.getLong(0) === 0L)
    // time travel reads the adoption snapshot as committed
    val firstSnap = spark.sql(s"SELECT snapshot_id FROM " +
      s"graft.$ns.hlegacy.snapshots ORDER BY committed_at")
      .head.getLong(0)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.hlegacy " +
      s"VERSION AS OF $firstSnap").head.getLong(0) === 300L)
    // the backup stays byte-complete: DML never touches adopted bytes
    assert(fingerprints(backupLoc) === before,
      "DML must never rewrite bytes the backup still owns")
    // shared bytes: gc is disabled (the snapshot-fork discipline)
    val eGc = intercept[Exception](spark.sql(
      s"CALL graft.system.expire_snapshots(table => '$ns.hlegacy')")
      .collect())
    assert(eGc.getMessage.contains("gc.enabled"), eGc.getMessage)
    // escaped partition values (hive %-encoding) round-trip exactly
    val src2 = wh.resolve(ns).resolve("hlegacy2")
    spark.createDataFrame(Seq((1L, "a/b"), (2L, "c d"), (3L, "a/b")))
      .toDF("id", "tag").write.partitionBy("tag")
      .parquet(src2.toString)
    spark.sql(s"CALL graft.system.migrate(table => '$ns.hlegacy2')")
      .collect()
    assert(spark.sql(s"SELECT id FROM graft.$ns.hlegacy2 WHERE " +
      "tag = 'a/b' ORDER BY id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L), "escaped partition values must round-trip")
  }

  test("CALL migrate with drop_backup handles a hive-partitioned " +
    "source: directory-encoded values become real columns (typed by " +
    "partition inference), clustered so partition-column predicates " +
    "keep pruning; user dotfiles refuse the sweep") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val wh = Path.of(spark.conf.get("spark.sql.catalog.graft.warehouse"))
    val src = wh.resolve(ns).resolve("plegacy")
    spark.range(300)
      .selectExpr("id",
        "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day",
        "id % 5 AS grp")
      .write.partitionBy("day").parquet(src.toString)
    // drop_backup rewrites: values present as a REAL typed column
    spark.sql(s"CALL graft.system.migrate(" +
      s"table => '$ns.plegacy', drop_backup => true)").collect()
    val perDay = spark.sql(s"SELECT day, count(*) AS n " +
      s"FROM graft.$ns.plegacy GROUP BY day ORDER BY day").collect()
    assert(perDay.length === 3 && perDay.forall(_.getLong(1) === 100L),
      perDay.mkString("; "))
    assert(spark.sql(s"SELECT * FROM graft.$ns.plegacy").schema("day")
      .dataType === org.apache.spark.sql.types.DateType,
      "partition inference must type day as DATE")
    // the former partition column is the cluster spec, so a day
    // predicate prunes files (manifest stats, not directories)
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.$ns.plegacy")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.clustered-by") === "day")
    val t = new graft.lake.GraftCatalog(spark, wh)
      .loadTable(ns, "plegacy")
    val all = t.read().inputFiles.length
    assert(t.readWhere(org.apache.spark.sql.functions.col("day") ===
      java.sql.Date.valueOf("2024-01-01")).count() === 100L)
    assert(t.readWhere(org.apache.spark.sql.functions.col("day") ===
      java.sql.Date.valueOf("2024-01-01")).inputFiles.length < all,
      s"day predicate must prune files (all=$all)")
    // backup dropped; bytes owned (gc works)
    assert(!Files.exists(wh.resolve(ns).resolve("plegacy_backup_")))
    // partition inference appends the former partition column LAST
    spark.sql(s"INSERT INTO graft.$ns.plegacy VALUES " +
      "(999, 0, DATE'2024-01-01')")
    spark.sql(s"CALL graft.system.expire_snapshots(" +
      s"table => '$ns.plegacy', retain_last => 1)").collect()
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.plegacy")
      .head.getLong(0) === 301L)
    // a dotfile is USER content, not a write artifact: the sweep
    // refuses rather than silently destroying it
    val src2 = wh.resolve(ns).resolve("plegacy2")
    spark.range(5).selectExpr("id", "id % 2 AS grp")
      .write.partitionBy("grp").parquet(src2.toString)
    Files.write(src2.resolve(".env"), "SECRET=1\n".getBytes)
    val eStray = intercept[Exception](spark.sql(s"CALL graft.system." +
      s"migrate(table => '$ns.plegacy2', drop_backup => true)")
      .collect())
    assert(eStray.getMessage.contains("non-parquet content"),
      eStray.getMessage)
    assert(Files.exists(src2.resolve(".env")),
      "refused sweep must leave the user file in place")
  }

  test("CTAS and REPLACE TABLE AS SELECT create and refill graft " +
    "tables through SQL") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.src (k BIGINT, v STRING) " +
      "USING graft")
    spark.sql(s"INSERT INTO graft.$ns.src VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"CREATE TABLE graft.$ns.dst USING graft AS " +
      s"SELECT k, v FROM graft.$ns.src")
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.dst")
      .head.getLong(0) === 2)
    // schema came from the SELECT
    assert(spark.table(s"graft.$ns.dst").schema.fieldNames.toSeq ===
      Seq("k", "v"))
    spark.sql(s"REPLACE TABLE graft.$ns.dst USING graft AS " +
      s"SELECT k FROM graft.$ns.src WHERE k = 1")
    val rows = spark.sql(s"SELECT k FROM graft.$ns.dst").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.table(s"graft.$ns.dst").schema.fieldNames.toSeq ===
      Seq("k"))
  }

  test("TRUNCATE TABLE is one atomic overwrite snapshot even under " +
    "merge-on-read (no whole-table tombstone pass)") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val pre = snapshotIds(tbl).last
    spark.sql(s"TRUNCATE TABLE $tbl")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 0)
    val ops = spark.sql(s"SELECT operation FROM $tbl.snapshots " +
      "ORDER BY committed_at").collect().map(_.getString(0)).toSeq
    assert(ops.last === "overwrite", s"got $ops")
    assert(spark.sql(s"SELECT * FROM $tbl.files WHERE content = 1")
      .count() === 0, "truncate must not write position-delete files")
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF $pre")
      .count() === 3, "time travel keeps the pre-truncate rows")
  }

  test("CALL add_files imports a parquet directory through SQL") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.imp (k BIGINT, tag STRING) " +
      "USING graft")
    val src = graft.ScratchDirs.create("graft-sql-import")
    spark.range(0, 100)
      .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS tag")
      .write.parquet(src.resolve("t").toString)
    val row = spark.sql(s"CALL graft.system.add_files(" +
      s"table => '$ns.imp', source_dir => '${src.resolve("t")}')")
      .collect().head
    assert(row.getInt(0) > 0 && row.getLong(1) === 100L)
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.imp")
      .head.getLong(0) === 100)
  }

  test("refs via SQL: CALL create_tag/create_branch, VERSION AS OF " +
    "'ref', t.refs metadata table, drop_ref") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"CALL graft.system.create_tag(table => '$tbl', " +
      "ref => 'v1')")
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    spark.sql(s"CALL graft.system.create_branch(table => '$tbl', " +
      "ref => 'audit')")
    // named-ref time travel
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'v1'")
      .count() === 3)
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'audit'")
      .count() === 2)
    // refs metadata table
    val refs = spark.sql(s"SELECT name, type FROM $tbl.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs === Seq(("audit", "BRANCH"), ("main", "BRANCH"),
      ("v1", "TAG")))
    // unknown ref fails clearly
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("neither a snapshot id nor a branch"))
    spark.sql(s"CALL graft.system.drop_ref(table => '$tbl', " +
      "ref => 'v1')")
    assert(spark.sql(s"SELECT * FROM $tbl.refs").count() === 2)
  }

  test("create_tag max_ref_age_ms => 0 is an explicit RETAIN FOREVER: " +
    "the ref survives expiry on a table whose default ages refs out, " +
    "while a sibling default-inheriting tag lapses") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('history.expire.max-ref-age-ms'='0')")
    spark.sql(s"CALL graft.system.create_tag(table => '$tbl', " +
      "ref => 'mortal')") // -1 default: inherits the 0 ms table cap
    spark.sql(s"CALL graft.system.create_tag(table => '$tbl', " +
      "ref => 'forever', max_ref_age_ms => 0)") // explicit immortal
    Thread.sleep(2)
    spark.sql(s"INSERT INTO $tbl VALUES ('case-9','Zed'," +
      "'zed@example.com','key9','secret 9','sk9',DATE'2023-03-01')")
    spark.sql(s"CALL graft.system.expire_snapshots(table => '$tbl', " +
      "retain_last => 1)")
    val refs = spark.sql(s"SELECT name FROM $tbl.refs ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(refs.contains("forever"),
      "max_ref_age_ms => 0 must never lapse")
    assert(!refs.contains("mortal"),
      "the default-inheriting tag must lapse under the 0 ms table cap")
  }

  test("spark.wap.branch session conf routes plain SQL DML and reads " +
    "to the audit branch (Iceberg WAP contract); unset sees main; " +
    "fast_forward publishes") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.conf.set("spark.wap.branch", "etl_audit")
    try {
      // the branch does not exist yet: the first routed write creates
      // it from the current head (Iceberg auto-create behavior)
      spark.sql(s"INSERT INTO $tbl VALUES ('case-4','Eve'," +
        "'eve@example.com','key4','secret 4','sk4',DATE'2023-02-01')")
      spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT 'case-3' AS case_id, 'AUDITED' AS secure_txt) s
           |ON t.case_id = s.case_id
           |WHEN MATCHED THEN UPDATE SET t.secure_txt = s.secure_txt
           |""".stripMargin)
      // reads under the conf see the staged state
      assert(ids(tbl) === Seq("case-1", "case-3", "case-4"))
      assert(spark.sql(s"SELECT secure_txt FROM $tbl WHERE " +
        "case_id = 'case-3'").head.getString(0) === "AUDITED")
    } finally spark.conf.unset("spark.wap.branch")
    // without the conf, main is untouched — nothing published yet
    assert(ids(tbl) === Seq("case-1", "case-2", "case-3"))
    assert(spark.sql(s"SELECT secure_txt FROM $tbl WHERE " +
      "case_id = 'case-3'").head.getString(0) === "secret text 3")
    // every staged commit is branch-parented on etl_audit
    val branched = spark.sql(s"SELECT summary['branch'] FROM " +
      s"$tbl.snapshots WHERE summary['branch'] IS NOT NULL")
      .collect().map(_.getString(0)).toSeq
    assert(branched.nonEmpty && branched.forall(_ == "etl_audit"))
    // publish and verify on main
    val headId = spark.sql(s"SELECT snapshot_id FROM $tbl.refs " +
      "WHERE name = 'etl_audit'").head.getLong(0)
    spark.sql(s"CALL graft.system.fast_forward(table => '$tbl', " +
      s"branch => 'main', to_snapshot_id => $headId)")
    assert(ids(tbl) === Seq("case-1", "case-3", "case-4"))
    assert(spark.sql(s"SELECT secure_txt FROM $tbl WHERE " +
      "case_id = 'case-3'").head.getString(0) === "AUDITED")
  }

  test("CALL rewrite_data_files(sort_order => 'zorder(k,v)') applies " +
    "the sort layout through SQL; omitting the param still works") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val tbl = s"graft.$ns.zt"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT) USING graft")
    spark.sql(s"INSERT INTO $tbl SELECT id % 16, id DIV 16 " +
      "FROM range(0, 256)")
    val n = spark.sql(
      s"CALL graft.system.rewrite_data_files(table => '$tbl', " +
        "rewrite_all => true, target_file_size_bytes => 1024, " +
        "sort_order => 'zorder(k, v)')").collect().head.getInt(0)
    assert(n > 0)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) === 256)
    val lastOp = spark.sql(s"SELECT operation FROM $tbl.snapshots " +
      "ORDER BY committed_at").collect().map(_.getString(0)).last
    assert(lastOp === "replace")
  }

  test("CALL maintenance procedures: expire_snapshots kills time travel " +
    "(demo.py:289-306), rewrites compact and drop deletes " +
    "(demo.py:419-452), orphan removal honors force") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    val preDelete = snapshotIds(tbl).head

    // rewrite applies the deletes and drops the delete file
    val rewritten = spark.sql("CALL graft.system.rewrite_data_files(" +
      s"table => '$ns.pii_data', rewrite_all => true, " +
      "target_file_size_bytes => 134217728)").collect()
    assert(rewritten.head.getInt(0) >= 1)
    val posRm = spark.sql(
      "CALL graft.system.rewrite_position_delete_files(" +
        s"table => '$ns.pii_data')").collect()
    assert(spark.sql(s"SELECT * FROM $tbl.files WHERE content = 1")
      .count() === 0, "delete files gone after rewrite")
    assert(ids(tbl) === Seq("case-1", "case-3"))

    // expire everything but current → time travel now fails
    val expired = spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => '$ns.pii_data', " +
      "older_than => TIMESTAMP'2035-01-01 00:00:00', " +
      "retain_last => 1)").collect()
    assert(expired.map(_.getLong(0)).contains(preDelete))
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF $preDelete").collect()
    }
    assert(err.getMessage.toLowerCase.contains("snapshot"))

    // orphan removal: plant an orphan, unsafe cutoff rejected, force works
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val orphan = Path.of(warehouse, ns, "pii_data", "data",
      "orphan-planted.parquet")
    Files.writeString(orphan, "not parquet")
    val unsafe = intercept[Exception] {
      spark.sql("CALL graft.system.remove_orphan_files(" +
        s"table => '$ns.pii_data', " +
        "older_than => TIMESTAMP'2035-01-01 00:00:00', force => false)")
        .collect()
    }
    assert(unsafe.getMessage.contains("3 days"))
    val removed = spark.sql("CALL graft.system.remove_orphan_files(" +
      s"table => '$ns.pii_data', " +
      "older_than => TIMESTAMP'2035-01-01 00:00:00', force => true)")
      .collect().map(_.getString(0))
    assert(removed.exists(_.endsWith("orphan-planted.parquet")))
    assert(!Files.exists(orphan))
  }

  test("MERGE INTO: upsert (matched update + not-matched insert) " +
    "rewrites only matched files and appends inserts") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT * FROM VALUES
         |  ('case-2', 'JaneX', 'janex@example.com'),
         |  ('case-9', 'Nina', 'nina@example.com')
         |  AS s(case_id, first_name, email_address)) s
         |ON t.case_id = s.case_id
         |WHEN MATCHED THEN UPDATE SET
         |  t.first_name = s.first_name, t.email_address = s.email_address
         |WHEN NOT MATCHED THEN INSERT
         |  (case_id, first_name, email_address, key_nm, secure_txt,
         |   secure_key, update_date)
         |  VALUES (s.case_id, s.first_name, s.email_address, 'k9',
         |   's9', 'sk9', DATE'2024-01-01')""".stripMargin)
    val rows = spark.sql(s"SELECT case_id, first_name FROM $tbl " +
      "ORDER BY case_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq("case-1" -> "John", "case-2" -> "JaneX",
      "case-3" -> "Alice", "case-9" -> "Nina"))
    assert(spark.sql(s"SELECT operation FROM $tbl.snapshots").collect()
      .map(_.getString(0)).toSeq === Seq("append", "merge"))
  }

  test("MERGE INTO: matched DELETE with clause condition, " +
    "first-match ordering, NOT MATCHED BY SOURCE delete") {
    val ns = freshNs()
    val tbl = createPii(ns)
    // case-1 matched+cond → deleted; case-2 matched, first clause wins
    // (update); case-3 not matched by source → deleted
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT * FROM VALUES ('case-1'), ('case-2')
         |  AS s(case_id)) s
         |ON t.case_id = s.case_id
         |WHEN MATCHED AND t.case_id = 'case-2'
         |  THEN UPDATE SET t.first_name = 'kept'
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = spark.sql(s"SELECT case_id, first_name FROM $tbl").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq("case-2" -> "kept"))
  }

  test("MERGE INTO: cardinality violation (one target row, two source " +
    "matches) fails; insert-only merge appends without rewriting") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT * FROM VALUES ('case-2', 'a'), ('case-2', 'b')
           |  AS s(case_id, tag)) s
           |ON t.case_id = s.case_id
           |WHEN MATCHED THEN UPDATE SET t.first_name = s.tag""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"))
    val filesBefore = spark.sql(s"SELECT file_path FROM $tbl.files")
      .collect().map(_.getString(0)).toSet
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT * FROM VALUES ('case-7') AS s(case_id)) s
         |ON t.case_id = s.case_id
         |WHEN NOT MATCHED THEN INSERT (case_id, first_name,
         |  email_address, key_nm, secure_txt, secure_key, update_date)
         |  VALUES (s.case_id, 'New', 'n@example.com', 'k', 's', 'sk',
         |  DATE'2024-02-02')""".stripMargin)
    val filesAfter = spark.sql(s"SELECT file_path FROM $tbl.files")
      .collect().map(_.getString(0)).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "insert-only merge must not rewrite existing files")
    assert(spark.sql(s"SELECT * FROM $tbl").count() === 4)
  }

  test("MERGE INTO honors write.merge.mode=merge-on-read: changed rows " +
    "are position-deleted + re-appended, no data file rewritten") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    val filesBefore = spark.sql(s"SELECT file_path FROM $tbl.files " +
      "WHERE content = 0").collect().map(_.getString(0)).toSet
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT * FROM VALUES
         |  ('case-2', 'JaneMor'), ('case-8', 'Omar')
         |  AS s(case_id, first_name)) s
         |ON t.case_id = s.case_id
         |WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name
         |WHEN NOT MATCHED THEN INSERT (case_id, first_name,
         |  email_address, key_nm, secure_txt, secure_key, update_date)
         |  VALUES (s.case_id, s.first_name, 'o@example.com', 'k8',
         |  's8', 'sk8', DATE'2024-04-04')""".stripMargin)
    val rows = spark.sql(s"SELECT case_id, first_name FROM $tbl " +
      "ORDER BY case_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq("case-1" -> "John", "case-2" -> "JaneMor",
      "case-3" -> "Alice", "case-8" -> "Omar"))
    val filesAfter = spark.sql(s"SELECT file_path, content FROM $tbl.files")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(filesBefore.subsetOf(
      filesAfter.filter(_._2 == 0).map(_._1).toSet),
      "MOR merge must not rewrite existing data files")
    assert(filesAfter.count(_._2 == 1) === 1,
      "MOR merge emits a position-delete file for the updated row")
  }

  test("schema evolution: ADD COLUMNS reads old files as NULL, DROP " +
    "COLUMN hides data, RENAME moves the logical name; DML keeps working") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (note STRING)")
    // old rows surface NULL for the added column, no rewrite happened
    val notes = spark.sql(s"SELECT note FROM $tbl").collect()
    assert(notes.length === 3 && notes.forall(_.isNullAt(0)))
    spark.sql(s"INSERT INTO $tbl VALUES ('case-5','Eve','e@example.com'," +
      "'k5','s5','sk5',DATE'2024-03-03','with note')")
    assert(spark.sql(s"SELECT note FROM $tbl WHERE case_id = 'case-5'")
      .collect().map(_.getString(0)).toSeq === Seq("with note"))
    // DML across mixed-schema files
    spark.sql(s"UPDATE $tbl SET note = 'backfilled' WHERE case_id = 'case-1'")
    assert(spark.sql(s"SELECT note FROM $tbl WHERE case_id = 'case-1'")
      .collect().map(_.getString(0)).toSeq === Seq("backfilled"))
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN secure_key")
    assert(!spark.sql(s"SELECT * FROM $tbl").columns.contains("secure_key"))
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN note TO remark")
    assert(spark.sql(s"SELECT remark FROM $tbl WHERE case_id = 'case-1'")
      .collect().map(_.getString(0)).toSeq === Seq("backfilled"),
      "values written under the old name must survive the rename")
    assert(spark.sql(s"SELECT * FROM $tbl").count() === 4)
  }

  test("RENAME COLUMN is metadata-only: files from before and after " +
    "read under one logical column; ALTER COLUMN TYPE widens in place") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.evo"
    spark.sql(s"CREATE TABLE $tbl (id INT, label STRING) USING graft")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'a'), (2, 'b')")
    val filesBefore = spark.sql(s"SELECT file_path FROM $tbl.files")
      .collect().map(_.getString(0)).toSet
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN label TO tag")
    // zero rewrite: same files, values resolve through the mapping
    assert(spark.sql(s"SELECT file_path FROM $tbl.files")
      .collect().map(_.getString(0)).toSet === filesBefore,
      "rename must not rewrite data files")
    assert(spark.sql(s"SELECT tag FROM $tbl ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    // post-rename writes land under the same physical layout
    spark.sql(s"INSERT INTO $tbl VALUES (3, 'c')")
    // DML addressing the renamed column spans mixed-age files
    spark.sql(s"UPDATE $tbl SET tag = 'z' WHERE id = 1")
    spark.sql(s"DELETE FROM $tbl WHERE tag = 'b'")
    assert(spark.sql(s"SELECT id, tag FROM $tbl ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq(1 -> "z", 3 -> "c"))
    // widening: old INT files read as BIGINT, new rows exceed Int range
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE BIGINT")
    val big = Int.MaxValue.toLong + 5
    spark.sql(s"INSERT INTO $tbl VALUES ($big, 'big')")
    assert(spark.sql(s"SELECT id FROM $tbl ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L, big))
    // narrowing is rejected (by Spark's analyzer before it reaches the
    // catalog; widenColumn would refuse it too) — it would corrupt
    // reads of the wide rows
    val narrow = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE INT"))
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      narrow.getMessage.contains("widening"), narrow.getMessage)
    // adding a column whose name is the renamed column's PHYSICAL
    // (file-side) name takes a fresh physical alias: old bytes stay
    // bound to `tag`, the new `label` reads NULL everywhere
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (label STRING)")
    val re = spark.sql(s"SELECT label, tag FROM $tbl ORDER BY id").collect()
    assert(re.forall(_.isNullAt(0)),
      "re-added name rebound to the renamed column's physical bytes")
    assert(re.map(_.getString(1)).toSeq === Seq("z", "c", "big"),
      "renamed column lost its values after the aliased re-add")
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN label")
    // renaming back to the original name drops the mapping cleanly
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN tag TO label")
    assert(spark.sql(s"SELECT label FROM $tbl ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("z", "c", "big"))
  }

  test("time travel across TWO chained renames resolves each snapshot " +
    "through its own recorded mapping") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.chain"
    spark.sql(s"CREATE TABLE $tbl (id INT, a STRING) USING graft")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'one')")
    val snapA = snapshotIds(tbl).last
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN a TO b")
    spark.sql(s"INSERT INTO $tbl VALUES (2, 'two')")
    val snapB = snapshotIds(tbl).last
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN b TO c")
    spark.sql(s"INSERT INTO $tbl VALUES (3, 'three')")
    // current: one logical column c spanning three physical-a files
    assert(spark.sql(s"SELECT c FROM $tbl ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("one", "two", "three"))
    // snapshot taken under logical 'a': identity mapping, reads 'a'
    val atA = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $snapA")
    assert(atA.columns.toSeq === Seq("id", "a"))
    assert(atA.collect().map(_.getString(1)).toSeq === Seq("one"))
    // snapshot taken under logical 'b': its mapping says b -> a, so
    // the middle epoch still reads the right bytes
    val atB = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $snapB")
    assert(atB.columns.toSeq === Seq("id", "b"))
    assert(atB.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("one", "two"))
  }

  test("time travel across a rename reads each snapshot with the " +
    "column names (and bytes) of its time") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.tt_evo"
    spark.sql(s"CREATE TABLE $tbl (id INT, label STRING) USING graft")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'a'), (2, 'b')")
    val preRename = snapshotIds(tbl).last
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN label TO tag")
    spark.sql(s"INSERT INTO $tbl VALUES (3, 'c')")
    val back = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $preRename")
    assert(back.columns.toSeq === Seq("id", "label"),
      "pre-rename snapshot must surface the old logical name")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("a", "b"))
    assert(spark.sql(s"SELECT tag FROM $tbl ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b", "c"))
  }

  test("time travel sees the schema AS OF the snapshot: columns added " +
    "later are absent, via Scala readAt and SQL VERSION AS OF") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val preEvolution = snapshotIds(tbl).last
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (note STRING)")
    spark.sql(s"INSERT INTO $tbl VALUES ('case-6','Fay','f@example.com'," +
      "'k6','s6','sk6',DATE'2024-05-05','noted')")
    // current read has the new column
    assert(spark.sql(s"SELECT * FROM $tbl").columns.contains("note"))
    // time travel to the pre-evolution snapshot: old schema, old rows
    val back = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $preEvolution")
    assert(!back.columns.contains("note"),
      "pre-evolution snapshot must read with the schema of that time")
    assert(back.count() === 3)
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = graft.lake.GraftTable.load(spark,
      Path.of(warehouse, ns, "pii_data"))
    assert(!t.readAt(preEvolution).columns.contains("note"))
  }

  test("CALL rollback_to_snapshot: a MOR delete is undone by rollback " +
    "until expire makes it permanent") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val preDelete = snapshotIds(tbl).last
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    assert(ids(tbl) === Seq("case-1", "case-3"))
    val back = spark.sql("CALL graft.system.rollback_to_snapshot(" +
      s"table => '$ns.pii_data', snapshot_id => $preDelete)").collect()
    assert(back.head.getLong(0) === preDelete)
    assert(ids(tbl) === Seq("case-1", "case-2", "case-3"),
      "rollback must resurrect the MOR-deleted row")
    // the delete snapshot is still in the log (nothing was erased)
    assert(spark.sql(s"SELECT operation FROM $tbl.snapshots").count() === 2)
  }

  test("CALL set_current_snapshot redoes the jump rollback refuses; " +
    "CALL cherrypick_snapshot publishes one staged WAP commit") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val preDelete = snapshotIds(tbl).last
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    val postDelete = snapshotIds(tbl).last
    spark.sql("CALL graft.system.rollback_to_snapshot(" +
      s"table => '$ns.pii_data', snapshot_id => $preDelete)").collect()
    assert(ids(tbl) === Seq("case-1", "case-2", "case-3"))
    // rollback only walks BACK: postDelete is not an ancestor of the
    // rolled-back head
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.rollback_to_snapshot(" +
        s"table => '$ns.pii_data', snapshot_id => $postDelete)")
      .collect())
    assert(e.getMessage.contains("not an ancestor"), e.getMessage)
    // set_current_snapshot is the redo
    val cur = spark.sql("CALL graft.system.set_current_snapshot(" +
      s"table => '$ns.pii_data', snapshot_id => $postDelete)").collect()
    assert(cur.head.getLong(0) === postDelete)
    assert(ids(tbl) === Seq("case-1", "case-3"))
    // stage ONE commit on a WAP branch via the session conf, then
    // cherry-pick it onto main — main gains its own new commit while
    // the branch pointer stays where it was
    spark.conf.set("spark.wap.branch", "fixes")
    try spark.sql(s"INSERT INTO $tbl VALUES ('case-6','Fay'," +
      "'f@example.com','k6','s6','sk6',DATE'2024-05-05')")
    finally spark.conf.unset("spark.wap.branch")
    assert(ids(tbl) === Seq("case-1", "case-3"),
      "staged commit must be invisible on main before the pick")
    val staged = spark.sql(
      s"SELECT snapshot_id FROM $tbl.refs WHERE name = 'fixes'")
      .collect().head.getLong(0)
    val picked = spark.sql("CALL graft.system.cherrypick_snapshot(" +
      s"table => '$ns.pii_data', snapshot_id => $staged)").collect()
    assert(picked.head.getLong(0) === staged)
    assert(picked.head.getLong(1) !== staged,
      "cherry-pick must mint a NEW commit, not move the pointer")
    assert(ids(tbl) === Seq("case-1", "case-3", "case-6"))
    // double-pick conflicts instead of double-applying
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.cherrypick_snapshot(" +
        s"table => '$ns.pii_data', snapshot_id => $staged)").collect())
    assert(e2.getMessage.contains("already present"), e2.getMessage)
  }

  test("CALL ancestors_of walks the lineage; CALL expire_snapshots(" +
    "snapshot_ids => ...) purges exactly the named history and the " +
    "walk then stops at the boundary") {
    val ns = freshNs()
    val tbl = createPii(ns,
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val s0 = snapshotIds(tbl).last
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")
    val s1 = snapshotIds(tbl).last
    spark.sql(s"INSERT INTO $tbl VALUES ('case-9','Ida'," +
      "'i@example.com','k9','s9','sk9',DATE'2024-06-06')")
    val head = snapshotIds(tbl).last
    val chain = spark.sql("CALL graft.system.ancestors_of(" +
      s"table => '$ns.pii_data')").collect()
    assert(chain.map(_.getLong(0)).toSeq === Seq(head, s1, s0),
      "ancestors_of must walk newest-first")
    assert(chain.last.isNullAt(2), "root ancestor has no parent")
    val fromS1 = spark.sql("CALL graft.system.ancestors_of(" +
      s"table => '$ns.pii_data', snapshot_id => $s1)").collect()
    assert(fromS1.map(_.getLong(0)).toSeq === Seq(s1, s0))
    // targeted purge of the pre-insert history
    val expired = spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => '$ns.pii_data', snapshot_ids => array(${s0}L, ${s1}L))")
      .collect().map(_.getLong(0)).toSet
    assert(expired === Set(s0, s1))
    val after = spark.sql("CALL graft.system.ancestors_of(" +
      s"table => '$ns.pii_data')").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(head),
      "walk must stop at the expiry boundary")
    // the current snapshot refuses targeted expiry
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.expire_snapshots(" +
        s"table => '$ns.pii_data', snapshot_ids => array(${head}L))")
      .collect())
    assert(e.getMessage.contains("current"), e.getMessage)
    assert(ids(tbl) === Seq("case-1", "case-3", "case-9"))
  }

  test("spark.graft.bucketLocalJoin routes a SQL join of co-bucketed " +
    "tables through the storage-partitioned path: zero Exchange, " +
    "identical rows, ineligible shapes untouched") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.f (k BIGINT, a BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE graft.$ns.d (k BIGINT, b STRING) " +
      "USING graft PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO graft.$ns.f SELECT id % 97, id " +
      "FROM range(2000)")
    spark.sql(s"INSERT INTO graft.$ns.d SELECT id % 53, " +
      "concat('d', id) FROM range(500)")
    val q = s"SELECT f.k, count(*) AS n, sum(f.a) AS s " +
      s"FROM graft.$ns.f f JOIN graft.$ns.d d ON f.k = d.k " +
      "GROUP BY f.k ORDER BY f.k"
    val want = spark.sql(q).collect().toSeq
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.graft.bucketLocalJoin", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val routed = spark.sql(q)
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("ClaimHashPartitioned"),
        s"join was not routed through the bucket-local path:\n$plan")
      // join AND group-by (keyed on the join key) both collapse
      // shuffle-free; the only Exchange left is the global ORDER BY's
      // rangepartitioning, which no partitioning claim can remove
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-local SQL join must not hash-shuffle:\n$plan")
      assert(plan.split("\n").count(_.contains("Exchange")) === 1,
        s"only the ORDER BY exchange may remain:\n$plan")
      assert(routed.collect().toSeq === want)
      // a subquery that RENAMES the key still routes: the detector
      // traces the join attribute through projection aliases
      val renamed = spark.sql(
        s"SELECT x.kk, count(*) AS n FROM " +
          s"(SELECT k AS kk FROM graft.$ns.f WHERE a > 10) x " +
          s"JOIN graft.$ns.d d ON x.kk = d.k GROUP BY x.kk")
      val rplan = renamed.queryExecution.executedPlan.toString
      assert(rplan.contains("ClaimHashPartitioned"),
        s"renamed-key subquery must still route:\n$rplan")
      assert(!rplan.contains("Exchange hashpartitioning"), rplan)
      val wantRenamed = {
        spark.conf.unset("spark.graft.bucketLocalJoin")
        try spark.sql(
          s"SELECT x.kk, count(*) AS n FROM " +
            s"(SELECT k AS kk FROM graft.$ns.f WHERE a > 10) x " +
            s"JOIN graft.$ns.d d ON x.kk = d.k GROUP BY x.kk")
          .collect().toSet
        finally spark.conf.set("spark.graft.bucketLocalJoin", "true")
      }
      assert(renamed.collect().toSet === wantRenamed)
      // ineligible: joining on a NON-bucketed key keeps the plain path
      val off = spark.sql(s"SELECT count(*) FROM graft.$ns.f f " +
        s"JOIN graft.$ns.d d ON f.a = d.k")
      assert(!off.queryExecution.executedPlan.toString
        .contains("ClaimHashPartitioned"))
      off.collect()
      // ineligible: a COMPUTED key in the projection has no storage
      // column behind it — the trace stops, the route falls back, and
      // results stay right (k+1 redistributes rows across buckets, so
      // claiming the old layout would be wrong, not just slow)
      val computed = spark.sql(
        s"SELECT x.kk, count(*) AS n FROM " +
          s"(SELECT k + 1 AS kk FROM graft.$ns.f) x " +
          s"JOIN graft.$ns.d d ON x.kk = d.k GROUP BY x.kk")
      assert(!computed.queryExecution.executedPlan.toString
        .contains("ClaimHashPartitioned"),
        "computed join keys must not route through the layout claim")
      val wantComputed = {
        spark.conf.unset("spark.graft.bucketLocalJoin")
        try spark.sql(
          s"SELECT x.kk, count(*) AS n FROM " +
            s"(SELECT k + 1 AS kk FROM graft.$ns.f) x " +
            s"JOIN graft.$ns.d d ON x.kk = d.k GROUP BY x.kk")
          .collect().toSet
        finally spark.conf.set("spark.graft.bucketLocalJoin", "true")
      }
      assert(computed.collect().toSet === wantComputed)
      // partially-clustered via SQL: splitFactor=2 keeps the routed
      // join exchange-free at 2x the parallelism, rows identical
      spark.conf.set("spark.graft.bucketLocalJoin.splitFactor", "2")
      try {
        val split = spark.sql(q)
        val splan = split.queryExecution.executedPlan.toString
        assert(splan.contains("ClaimHashPartitioned"), splan)
        assert(!splan.contains("Exchange hashpartitioning"), splan)
        assert(split.collect().toSeq === want)
      } finally
        spark.conf.unset("spark.graft.bucketLocalJoin.splitFactor")
    } finally {
      spark.conf.unset("spark.graft.bucketLocalJoin")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
    }
  }

  test("storage-partitioned MERGE: a bucket-clustered target's " +
    "discovery join reads through the claimed layout (only the source " +
    "shuffles) in BOTH write modes, results identical to the plain path") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      val ns = freshNs()
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      spark.sql(s"CREATE TABLE graft.$ns.t (k BIGINT, v STRING) " +
        "USING graft PARTITIONED BY (bucket(4, k)) " +
        s"TBLPROPERTIES ('write.merge.mode'='$mode')")
      spark.sql(s"INSERT INTO graft.$ns.t SELECT id, concat('v', id) " +
        "FROM range(500)")
      val captured = new ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution,
            d: Long): Unit =
          captured.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        spark.sql(
          s"""MERGE INTO graft.$ns.t t USING (
             |  SELECT id AS k, concat('u', id) AS v
             |  FROM range(400, 600)) s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
             |""".stripMargin)
        org.apache.spark.TestListenerBus.flush(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        assert(captured.asScala.exists(_.contains("ClaimHashPartitioned")),
          s"[$mode] discovery join must read the target through the " +
            "claimed bucket layout")
      } finally spark.listenerManager.unregister(listener)
      val got = spark.sql(s"SELECT * FROM graft.$ns.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.size === 600)
      assert(got.take(400) ===
        (0L until 400L).map(i => (i, s"v$i")))
      assert(got.drop(400) ===
        (400L until 600L).map(i => (i, s"u$i")),
        s"[$mode] matched rows must be updated, unmatched inserted")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION auto-adds source-only columns " +
    "through ALTER machinery; old snapshots keep the old schema") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val preMerge = snapshotIds(tbl).last
    spark.sql("CREATE OR REPLACE TEMP VIEW merge_evo_src AS " +
      "SELECT * FROM VALUES ('case-2','flagged'),('case-6','fresh') " +
      "AS v(case_id, note)")
    // star actions are the canonical evolution trigger (Spark's
    // ResolveMergeIntoSchemaEvolution keys on Update/InsertStarAction)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING merge_evo_src s
         |ON t.case_id = s.case_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(
      s"SELECT case_id, note FROM $tbl ORDER BY case_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows === Seq(
      ("case-1", null), ("case-2", "flagged"), ("case-3", null),
      ("case-6", "fresh")),
      "evolved column must carry merge values, null elsewhere")
    // untouched columns of the matched row survive the update
    assert(spark.sql(s"SELECT first_name FROM $tbl " +
      "WHERE case_id = 'case-2'").collect().head.getString(0) === "Jane")
    // the pre-merge snapshot still reads with the pre-evolution schema
    val back = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $preMerge")
    assert(!back.columns.contains("note"),
      "pre-evolution snapshot must not surface the merged-in column")
    assert(back.count() === 3)
    // a second, plain MERGE (no evolution keyword) on the evolved
    // schema behaves normally
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_evo_src s
         |ON t.case_id = s.case_id
         |WHEN MATCHED THEN UPDATE SET t.note = 'seen'""".stripMargin)
    assert(spark.sql(s"SELECT note FROM $tbl WHERE case_id = 'case-2'")
      .collect().head.getString(0) === "seen")
  }

  // ---- MERGE: one broadcast-probed pass over the target ----

  private val MergeModes = Seq("copy-on-write", "merge-on-read")

  /** A (k, v) table in `mode` with one data file per key decade
    * 0-9, 10-19, 20-29 (disjoint key ranges), plus one row per `extra`
    * key (NULL allowed) in a fourth file; deletes are merge-on-read. */
  private def mergeTable(mode: String, keyType: String = "BIGINT",
      extra: Seq[String] = Nil): String = {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.m"
    spark.sql(s"CREATE TABLE $tbl (k $keyType, v STRING) USING graft " +
      s"TBLPROPERTIES ('write.merge.mode'='$mode', " +
      "'write.delete.mode'='merge-on-read')")
    for (d <- 0 until 3)
      spark.sql(s"INSERT INTO $tbl VALUES " + (d * 10 until d * 10 + 10)
        .map(k => s"($k, 'v$k')").mkString(", "))
    if (extra.nonEmpty)
      spark.sql(s"INSERT INTO $tbl VALUES " +
        extra.map(k => s"($k, 'x$k')").mkString(", "))
    tbl
  }

  private def kv(tbl: String): Seq[(Option[Long], String)] =
    spark.sql(s"SELECT CAST(k AS BIGINT), v FROM $tbl").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1))).toSeq.sortBy(x => (x._1.getOrElse(-1L), x._2))

  private def base(keys: Range): Seq[(Option[Long], String)] =
    keys.map(k => (Some(k.toLong), s"v$k"))

  /** Executed plans of every query `body` runs. */
  private def plansOf(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit = captured.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.TestListenerBus.flush(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestListenerBus.flush(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq
  }

  private object PlanWalk
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every node of an executed plan, through adaptive stages,
    * subqueries and the plans of the cached relations it reads. */
  private def nodesOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    PlanWalk.collectWithSubqueries(p) { case n => n }.flatMap {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m +: nodesOf(m.relation.cachedPlan)
      case n => Seq(n)
    }

  test("MERGE WHEN NOT MATCHED BY SOURCE applies first-match " +
    "clauses, in both write modes") {
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode)
      spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
           |  (15L, 'u15'), (16L, 'gone'), (40L, 'n40') AS s(k, v)) s
           |ON t.k = s.k
           |WHEN MATCHED AND s.v = 'gone' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND t.k >= 25
           |  THEN UPDATE SET v = 'stale'
           |""".stripMargin)
      val want = (base(5 until 15) :+ (Some(15L), "u15")) ++
        base(17 until 25) ++ (25 until 30).map(k => (Some(k.toLong),
          "stale")) :+ (Some(40L), "n40")
      assert(kv(tbl) === want, s"[$mode]")
    }
  }

  test("MERGE cardinality violation fails before any commit, in both " +
    "write modes") {
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode)
      val before = snapshotIds(tbl)
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
             |  (3L, 'a'), (3L, 'b'), (50L, 'c') AS s(k, v)) s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
             |""".stripMargin)
      }
      assert(e.getMessage.contains("cardinality"), s"[$mode]")
      assert(snapshotIds(tbl) === before, s"[$mode] nothing committed")
      assert(kv(tbl) === base(0 until 30), s"[$mode]")
    }
  }

  test("MERGE NULL keys, in both write modes: under = a NULL source key " +
    "never matches and is inserted; under <=> it updates the " +
    "NULL-keyed target row") {
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode, extra = Seq("NULL"))
      val upsert = (on: String, src: String) => spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES $src
           |  AS s(k, v)) s
           |ON $on
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |""".stripMargin)
      upsert("t.k = s.k", "(CAST(NULL AS BIGINT), 'n1')")
      assert(kv(tbl) === Seq((None, "n1"), (None, "xNULL")) ++
        base(0 until 30), s"[$mode] = never matches NULL")
      upsert("t.k = s.k", "(CAST(NULL AS BIGINT), 'n2'), (7L, 'u7')")
      assert(kv(tbl) === Seq((None, "n1"), (None, "n2"), (None, "xNULL")) ++
        base(0 until 7) ++ Seq((Some(7L), "u7")) ++ base(8 until 30),
        s"[$mode] a NULL key beside a real one")
      spark.sql(s"DELETE FROM $tbl WHERE v IN ('n1', 'n2')")
      upsert("t.k <=> s.k", "(CAST(NULL AS BIGINT), 'nullsafe')")
      assert(kv(tbl) === Seq((None, "nullsafe")) ++ base(0 until 7) ++
        Seq((Some(7L), "u7")) ++ base(8 until 30),
        s"[$mode] <=> matches the NULL-keyed row")
    }
  }

  test("MERGE with a non-equi ON (BETWEEN) and with an INT target key " +
    "against a BIGINT source key, in both write modes") {
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode)
      spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
           |  (3L, 5L, 'r'), (100L, 101L, 'n') AS s(lo, hi, v)) s
           |ON t.k BETWEEN s.lo AND s.hi
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.lo, s.v)
           |""".stripMargin)
      assert(kv(tbl) === base(0 until 3) ++ (3 until 6).map(k =>
        (Some(k.toLong), "r")) ++ base(6 until 30) :+ (Some(100L), "n"),
        s"[$mode] BETWEEN")

      val narrow = mergeTable(mode, keyType = "INT")
      // 2^32 + 5 narrowed to INT would be 5: the BIGINT comparison
      // must keep it unmatched
      spark.sql(
        s"""MERGE INTO $narrow t USING (SELECT * FROM VALUES
           |  (4294967301L, 'wide'), (6L, 'u6') AS s(k, v)) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      assert(kv(narrow) === base(0 until 6) ++ Seq((Some(6L), "u6")) ++
        base(7 until 30), s"[$mode] INT target vs BIGINT source")
    }
  }

  test("MERGE evaluates a nondeterministic source exactly once, in " +
    "both write modes: each source row's key and value come from one " +
    "evaluation, and it lands once, updated or inserted") {
    import org.apache.spark.sql.functions.udf
    spark.udf.register("merge_tick",
      udf(() => MergeTicks.n.incrementAndGet()).asNondeterministic())
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode)
      MergeTicks.n.set(0)
      val stored = spark.sparkContext.getPersistentRDDs.keySet
      // an odd tick moves the key out of the target's range, so the
      // tick decides both the match and the value
      spark.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT id + (tick % 2) * 100 AS k, CAST(tick AS STRING) AS v
           |  FROM (SELECT id, merge_tick() AS tick FROM range(20, 40))) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |""".stripMargin)
      assert(MergeTicks.n.get === 20, s"[$mode] the source ran once")
      assert(spark.sparkContext.getPersistentRDDs.keySet === stored,
        s"[$mode] the MERGE releases the source and discovery blocks")
      val (kept, merged) = kv(tbl).partition(_._2.startsWith("v"))
      val ticks = merged.map(_._2.toLong)
      assert(ticks.sorted === (1L to 20L), s"[$mode] $merged")
      assert(merged.map(_._1.get % 100).sorted === (20L until 40L),
        s"[$mode] one row per source row: $merged")
      assert(merged.forall { case (k, v) =>
        (k.get >= 100) == (v.toLong % 2 == 1) }, s"[$mode] $merged")
      val matched = merged.map(_._1.get).filter(_ < 30).toSet
      assert(kept === base(0 until 30).filterNot(r => matched(r._1.get)),
        s"[$mode] the untouched target rows")
      assert(kept.size + merged.size === 30 + 20 - matched.size,
        s"[$mode]")
    }
  }

  test("MERGE plan: an equi-key upsert from a small source broadcasts " +
    "the source into the target scan and runs no full-outer join, in " +
    "both write modes") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastHashJoinExec}
    for (mode <- MergeModes) {
      val tbl = mergeTable(mode)
      val plans = plansOf(spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
           |  (4L, 'u4'), (24L, 'u24'), (77L, 'n77') AS s(k, v)) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |""".stripMargin))
      val joins = plans.flatMap(nodesOf).collect { case j: BaseJoinExec => j }
      assert(!joins.exists(_.joinType == FullOuter),
        s"[$mode] no full-outer join: ${joins.map(_.joinType)}")
      val discovery = joins.collect {
        case j: BroadcastHashJoinExec =>
          j.buildSide match {
            case BuildRight => (j.left, j.right)
            case BuildLeft => (j.right, j.left)
          }
      }.filter { case (stream, _) =>
        stream.output.exists(_.name == graft.lake.GraftTable.FileCol)
      }
      assert(discovery.nonEmpty &&
        discovery.forall(_._2.output.exists(_.name == "__graft_src_id")),
        s"[$mode] the target scan must stream against the broadcast " +
          s"source:\n${plans.mkString("\n")}")
      assert(kv(tbl) === base(0 until 4) ++ Seq((Some(4L), "u4")) ++
        base(5 until 24) ++ Seq((Some(24L), "u24")) ++ base(25 until 30) :+
        (Some(77L), "n77"), s"[$mode]")
    }
  }

  test("MOR upsert MERGE job count (regression pin)") {
    val tbl = mergeTable("merge-on-read")
    val (_, jobs) = graft.SparkJobs.count(spark.sparkContext)(spark.sql(
      s"""MERGE INTO $tbl t USING (SELECT * FROM VALUES
         |  (4L, 'u4'), (24L, 'u24'), (77L, 'n77') AS s(k, v)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin))
    // source broadcast (its first read stores the source's local
    // checkpoint), discovery cache, probe map + result, delete
    // write (range exchange + write), matched-id broadcast for the
    // insert anti-join, rebalance + data write. The full-outer
    // discovery join, its whole-table cache and the two-level probe
    // over it ran 11 jobs on this shape.
    assert(jobs === 9)
  }

  test("SQL reads keep parquet pushdown and codegen through the " +
    "substitution rule: filters reach the scan, columns are pruned") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val plan = spark.sql(s"SELECT case_id FROM $tbl " +
      "WHERE case_id = 'case-2'").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(case_id), " +
      "EqualTo(case_id,case-2)]"),
      s"filter not pushed to the parquet scan:\n$plan")
    assert(!plan.contains("secure_txt"),
      s"unprojected column not pruned from the scan:\n$plan")
    // whole-stage codegen spans render as "*(n)" prefixes
    assert(plan.contains("*(1)"),
      s"SQL read fell out of whole-stage codegen:\n$plan")
    assert(plan.contains("ReadSchema: struct<case_id:string>"),
      s"clean table read should scan exactly the projected column:\n$plan")
  }

  test("DELETE with IN-subquery condition and spark.table() DataFrame " +
    "access both route through the engine") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(s"CREATE TABLE graft.$ns.victims (case_id STRING) USING graft")
    spark.sql(s"INSERT INTO graft.$ns.victims VALUES ('case-1'), ('case-3')")
    spark.sql(s"DELETE FROM $tbl WHERE case_id IN " +
      s"(SELECT case_id FROM graft.$ns.victims)")
    assert(ids(tbl) === Seq("case-2"))
    // DataFrame API entry: spark.table resolves through the catalog
    val df = spark.table(tbl).select("case_id", "first_name")
    assert(df.collect().map(_.getString(1)).toSeq === Seq("Jane"))
  }

  test("catalog DDL round trip: SHOW/DESCRIBE/DROP + namespace listing") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val tables = spark.sql(s"SHOW TABLES IN graft.$ns").collect()
      .map(_.getString(1))
    assert(tables.contains("pii_data"))
    val desc = spark.sql(s"DESCRIBE TABLE $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("case_id") === "string")
    assert(desc("update_date") === "date")
    spark.sql(s"DROP TABLE $tbl")
    assert(spark.sql(s"SHOW TABLES IN graft.$ns").count() === 0)
    val nss = spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0))
    assert(nss.contains(ns))
  }

  test("PARTITIONED BY maps to range-clustered appends: files carry " +
    "disjoint key ranges and stats pruning bounds predicate scans") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    val tbl = s"graft.$ns.events"
    spark.sql(s"CREATE TABLE $tbl (k STRING, v BIGINT) USING graft " +
      "PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.clustered-by.files'='4')")
    val values = (1 to 400)
      .map(i => f"('k-$i%04d', $i)").mkString(", ")
    spark.sql(s"INSERT INTO $tbl VALUES $values")
    // clustering fanned the append into multiple files
    val nFiles = spark.sql(s"SELECT * FROM $tbl.files WHERE content = 0")
      .count()
    assert(nFiles === 4, "append should produce the declared file count")
    // disjoint per-file ranges: a point query's stats-pruned read
    // touches exactly one file
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = graft.lake.GraftTable.load(spark,
      Path.of(warehouse, ns, "events"))
    val pruned = t.readWhere(
      org.apache.spark.sql.functions.col("k") === "k-0007")
    assert(pruned.inputFiles.length === 1,
      "point predicate must prune to a single clustered file")
    assert(pruned.count() === 1)
    assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 'k-0007'")
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
    // the partitions relation summarizes the clustered layout: 4
    // disjoint ranges covering all 400 rows
    val parts = spark.sql(s"SELECT cluster_columns, range_min, " +
      s"range_max, file_count, record_count FROM $tbl.partitions " +
      "ORDER BY range_min").collect()
    assert(parts.length === 4)
    assert(parts.forall(_.getString(0) == "k"))
    assert(parts.map(_.getLong(4)).sum === 400L)
    assert(parts.sliding(2).forall(p =>
      p(0).getString(2) <= p(1).getString(1)),
      "clustered ranges must be disjoint and ordered")
  }

  test("expired snapshot id in VERSION AS OF fails like the demo " +
    "(demo.py:300-306); writes at a pinned snapshot are rejected") {
    val ns = freshNs()
    val tbl = createPii(ns)
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-1'")
    val old = snapshotIds(tbl).head
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF $old").count() === 3)
    spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => '$ns.pii_data', " +
      "older_than => TIMESTAMP'2035-01-01 00:00:00', retain_last => 1)")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF $old").collect()
    }
    assert(e.getMessage.contains("Cannot find snapshot"))
  }

  test("spark.read.option time travel: snapshot-id/as-of-timestamp/" +
    "branch/tag are honored, expired ids throw, unknown options refuse " +
    "(the reference's read form, demo.py:261,303,531)") {
    val ns = freshNs()
    val tbl = createPii(ns)
    val preDelete = snapshotIds(tbl).last
    spark.sql(s"DELETE FROM $tbl WHERE case_id = 'case-2'")

    // option-read ≡ VERSION AS OF, row for row
    val viaOption = spark.read.option("snapshot-id", preDelete.toString)
      .table(tbl).collect().map(_.getString(0)).sorted.toSeq
    val viaVersionAsOf = spark.sql(
      s"SELECT * FROM $tbl VERSION AS OF $preDelete")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(viaOption === viaVersionAsOf)
    assert(viaOption === Seq("case-1", "case-2", "case-3"))
    // and the current read still sees the delete
    assert(spark.read.table(tbl).count() === 2)

    // as-of-timestamp (ms since epoch, Iceberg's option name)
    val preTs = spark.sql(s"SELECT committed_at FROM $tbl.snapshots " +
      "ORDER BY committed_at").collect()
      .map(_.getTimestamp(0).getTime).head
    assert(spark.read.option("as-of-timestamp", preTs.toString)
      .table(tbl).count() === 3)
    intercept[IllegalArgumentException](spark.read
      .option("as-of-timestamp", (preTs - 100000L).toString)
      .table(tbl).collect())

    // branch/tag option reads ("main" = the implicit current pointer)
    spark.sql(s"CALL graft.system.create_tag(table => '$ns.pii_data', " +
      s"ref => 'pre_del', snapshot_id => $preDelete)")
    assert(spark.read.option("tag", "pre_del").table(tbl).count() === 3)
    assert(spark.read.option("branch", "main").table(tbl).count() === 2)
    spark.sql(s"CALL graft.system.create_branch(" +
      s"table => '$ns.pii_data', ref => 'audit', " +
      s"snapshot_id => $preDelete)")
    assert(spark.read.option("branch", "audit").table(tbl).count() === 3)

    // branch option naming a TAG refuses (and vice versa) — a job
    // following a "branch" that is really an immutable tag would
    // silently pin itself to stale data
    val wrongKind = intercept[Exception](spark.read
      .option("branch", "pre_del").table(tbl).collect())
    assert(wrongKind.getMessage.contains("names a tag"))
    val wrongKind2 = intercept[Exception](spark.read
      .option("tag", "audit").table(tbl).collect())
    assert(wrongKind2.getMessage.contains("names a branch"))

    // an EXPLICIT branch=main read ignores spark.wap.branch (staged
    // data must never answer a main read), and as-of-timestamp
    // resolves over MAIN ancestry only — a WAP-staged commit with a
    // newer timestamp is invisible to it
    spark.conf.set("spark.wap.branch", "audit")
    try {
      spark.sql(s"INSERT INTO $tbl VALUES ('case-9', 'Staged', " +
        "'st@example.com', 'k9', 's9', 'sk9', DATE'2023-01-09')")
      assert(spark.read.table(tbl).count() === 4,
        "plain reads follow the WAP branch")
      assert(spark.read.option("branch", "main").table(tbl)
        .count() === 2,
        "branch=main must serve the published state under wap.branch")
      assert(spark.read
        .option("as-of-timestamp", System.currentTimeMillis().toString)
        .table(tbl).count() === 2,
        "as-of-timestamp must not see WAP/branch-staged snapshots")
    } finally spark.conf.unset("spark.wap.branch")

    // "main" is a RESERVED ref name: a ref named main would shadow the
    // published head for every later branch=main read
    val reserved = intercept[Exception](spark.sql(
      s"CALL graft.system.create_branch(table => '$ns.pii_data', " +
        s"ref => 'main', snapshot_id => $preDelete)"))
    assert(reserved.getMessage.contains("main is the table head"),
      s"creating a ref named main must refuse: ${reserved.getMessage}")
    // main is a BRANCH, never a tag — tag=main refuses instead of
    // consulting any (legacy) stored ref by that name
    val tagMain = intercept[Exception](spark.read
      .option("tag", "main").table(tbl).collect())
    assert(tagMain.getMessage.contains("not as a tag"),
      s"tag=main must refuse: ${tagMain.getMessage}")
    // wap.branch=main is a plain publish (main IS the default branch):
    // no ref auto-created, the write lands on the head
    spark.conf.set("spark.wap.branch", "main")
    try {
      spark.sql(s"INSERT INTO $tbl VALUES ('case-10', 'Pub', " +
        "'pub@example.com', 'k10', 's10', 'sk10', DATE'2023-01-10')")
      assert(spark.read.table(tbl).count() === 3,
        "wap.branch=main must publish to the head")
      assert(spark.read.option("branch", "main").table(tbl)
        .count() === 3)
      // the refs relation synthesizes the implicit main row at the
      // head; a stored ref named main would surface as a SECOND row
      assert(spark.sql(s"SELECT name FROM $tbl.refs").collect()
        .map(_.getString(0)).count(_ == "main") === 1,
        "wap.branch=main must not auto-create a ref named main")
      // VERSION AS OF 'main' resolves to the head like fast_forward
      assert(spark.sql(
        s"SELECT * FROM $tbl VERSION AS OF 'main'").count() === 3)
    } finally spark.conf.unset("spark.wap.branch")

    // UNKNOWN read options refuse loudly — never a silent current-read
    val unknown = intercept[Exception](spark.read
      .option("snapshots-id", preDelete.toString).table(tbl).collect())
    assert(unknown.getMessage.contains("unsupported read option"),
      s"unknown option must refuse, got: ${unknown.getMessage}")
    // conflicting known options refuse too
    val both = intercept[Exception](spark.read
      .option("snapshot-id", preDelete.toString)
      .option("tag", "pre_del").table(tbl).collect())
    assert(both.getMessage.contains("conflicting read options"))
    // non-numeric snapshot-id refuses with the option name
    val bad = intercept[Exception](spark.read
      .option("snapshot-id", "not_a_long").table(tbl).collect())
    assert(bad.getMessage.contains("snapshot-id"))

    // the demo's post-expiry FAILURE path (demo.py:300-306): an
    // option-read of an expired snapshot must THROW, not silently
    // answer with current data (refs dropped first — they pin it)
    spark.sql(s"CALL graft.system.drop_ref(table => '$ns.pii_data', " +
      "ref => 'pre_del')")
    spark.sql(s"CALL graft.system.drop_ref(table => '$ns.pii_data', " +
      "ref => 'audit')")
    spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => '$ns.pii_data', " +
      "older_than => TIMESTAMP'2035-01-01 00:00:00', retain_last => 1)")
    val expired = intercept[Exception](spark.read
      .option("snapshot-id", preDelete.toString).table(tbl).collect())
    assert(expired.getMessage.contains("Cannot find snapshot"))
  }

  test("nested schema evolution: ADD/RENAME/TYPE/DROP on struct " +
    "subfields are metadata-only — old files read correctly across a " +
    "subfield rename, a re-added name never resurrects dropped bytes") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.prof"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, " +
      "prof STRUCT<email: STRING, age: INT>) USING graft")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      "(1, named_struct('email','a@x.com','age',30)), " +
      "(2, named_struct('email','b@y.org','age',40))")

    // ADD a subfield: pre-evolution files read it as NULL
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (prof.score INT)")
    assert(spark.sql(s"SELECT prof.score FROM $tbl").collect()
      .forall(_.isNullAt(0)))
    spark.sql(s"INSERT INTO $tbl VALUES " +
      "(3, named_struct('email','c@z.io','age',50,'score',7))")

    // RENAME a subfield: files keep the physical leaf, reads resolve
    // the logical path — values written under BOTH spellings agree
    val preRename = snapshotIds(tbl).last
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN prof.email TO mail")
    val mails = spark.sql(
      s"SELECT prof.mail FROM $tbl ORDER BY id").collect()
      .map(_.getString(0)).toSeq
    assert(mails === Seq("a@x.com", "b@y.org", "c@z.io"),
      "old files must read correctly across the subfield rename")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      "(4, named_struct('mail','d@w.net','age',60,'score',9))")
    assert(spark.sql(s"SELECT prof.mail FROM $tbl WHERE id = 4")
      .collect().head.getString(0) === "d@w.net")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE " +
      "prof.mail LIKE '%@%'").collect().head.getLong(0) === 4)
    // time travel before the rename still reads the OLD path
    assert(spark.sql(s"SELECT prof.email FROM $tbl " +
      s"VERSION AS OF $preRename ORDER BY id").collect()
      .map(_.getString(0)).toSeq === Seq("a@x.com", "b@y.org", "c@z.io"))

    // TYPE widen a subfield: narrow leaves in old files read wide
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN prof.age TYPE BIGINT")
    assert(spark.sql(s"SELECT sum(prof.age) FROM $tbl").collect()
      .head.getLong(0) === 180L)

    // DROP + re-ADD the same subfield name: the old bytes (score 7/9)
    // must NOT resurrect — the re-add takes a fresh physical leaf
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN prof.score")
    assert(!spark.sql(s"SELECT prof.* FROM $tbl").columns
      .map(_.toLowerCase).contains("score"))
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (prof.score INT)")
    assert(spark.sql(s"SELECT prof.score FROM $tbl").collect()
      .forall(_.isNullAt(0)),
      "a re-added subfield must read NULL, never dropped bytes")

    // a MISSING parent path refuses loudly (never a silent no-op) —
    // depth itself is supported since r14, see the struct-in-struct
    // walk below
    val deep = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl ADD COLUMNS (prof.inner.leaf INT)"))
    assert(deep.getMessage.contains("no such column") ||
      deep.getMessage.contains("UNRESOLVED") ||
      deep.getMessage.contains("FIELD_NOT_FOUND"),
      s"missing parent must refuse: ${deep.getMessage}")
    // dotted TOP-LEVEL names are refused at entry — they would be
    // indistinguishable from nested paths in the mapping keyspace
    val dotted = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl ADD COLUMNS (`x.y` INT)"))
    assert(dotted.getMessage.contains("dotted top-level column") ||
      dotted.getMessage.contains("contains '.'"),
      s"dotted top-level ADD must refuse: ${dotted.getMessage}")
    // MOR delete still works against the evolved struct
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $tbl WHERE prof.mail = 'b@y.org'")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()
      .head.getLong(0) === 3)
  }

  test("depth-2+ nested schema evolution (struct-in-struct): " +
    "ADD/RENAME/TYPE/DROP at depth 3, inner-struct rename re-keys " +
    "descendants, time travel replays historical paths, re-ADD never " +
    "resurrects dropped bytes") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.ev2"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, event STRUCT<" +
      "payload: STRUCT<geo: STRUCT<lat: DOUBLE, lon: DOUBLE>, " +
      "kind: STRING>, ts: BIGINT>) USING graft")
    spark.sql(s"INSERT INTO $tbl VALUES (1, named_struct(" +
      "'payload', named_struct('geo', named_struct(" +
      "'lat', 1.5D, 'lon', 2.5D), 'kind', 'click'), 'ts', 100L))")

    // ADD at depth 3: pre-evolution files read NULL
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (event.payload.geo.alt INT)")
    assert(spark.sql(s"SELECT event.payload.geo.alt FROM $tbl")
      .collect().forall(_.isNullAt(0)))
    spark.sql(s"INSERT INTO $tbl VALUES (2, named_struct(" +
      "'payload', named_struct('geo', named_struct(" +
      "'lat', 3.5D, 'lon', 4.5D, 'alt', 7), 'kind', 'view'), " +
      "'ts', 200L))")

    // RENAME at depth 3: old files keep the physical leaf
    val preRename = snapshotIds(tbl).last
    spark.sql(
      s"ALTER TABLE $tbl RENAME COLUMN event.payload.geo.lat TO latitude")
    assert(spark.sql(
      s"SELECT event.payload.geo.latitude FROM $tbl ORDER BY id")
      .collect().map(_.getDouble(0)).toSeq === Seq(1.5, 3.5),
      "old files must read through the depth-3 rename")
    spark.sql(s"INSERT INTO $tbl VALUES (3, named_struct(" +
      "'payload', named_struct('geo', named_struct(" +
      "'latitude', 5.5D, 'lon', 6.5D, 'alt', 9), 'kind', 'buy'), " +
      "'ts', 300L))")
    assert(spark.sql(s"SELECT event.payload.geo.latitude FROM $tbl " +
      "ORDER BY id").collect().map(_.getDouble(0)).toSeq
      === Seq(1.5, 3.5, 5.5))

    // RENAME the INNER STRUCT itself: descendant mapping keys re-key
    // ("event.payload.geo.latitude" -> "event.body.geo.latitude")
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN event.payload TO body")
    assert(spark.sql(s"SELECT event.body.geo.latitude FROM $tbl " +
      "ORDER BY id").collect().map(_.getDouble(0)).toSeq
      === Seq(1.5, 3.5, 5.5),
      "inner-struct rename must re-key descendant nested renames")
    assert(spark.sql(s"SELECT event.body.kind FROM $tbl WHERE id = 2")
      .collect().head.getString(0) === "view")

    // TYPE widen at depth 3: narrow leaves read wide
    spark.sql(
      s"ALTER TABLE $tbl ALTER COLUMN event.body.geo.alt TYPE BIGINT")
    assert(spark.sql(s"SELECT sum(event.body.geo.alt) FROM $tbl")
      .collect().head.getLong(0) === 16L)

    // time travel BEFORE the renames replays the historical paths
    assert(spark.sql(s"SELECT event.payload.geo.lat FROM $tbl " +
      s"VERSION AS OF $preRename ORDER BY id").collect()
      .map(_.getDouble(0)).toSeq === Seq(1.5, 3.5))

    // DROP at depth 3 + re-ADD: dropped bytes (7/9) must not resurrect
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN event.body.geo.alt")
    assert(!spark.sql(s"SELECT event.body.geo.* FROM $tbl").columns
      .map(_.toLowerCase).contains("alt"))
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (event.body.geo.alt BIGINT)")
    assert(spark.sql(s"SELECT event.body.geo.alt FROM $tbl").collect()
      .forall(_.isNullAt(0)),
      "re-added depth-3 subfield must read NULL, never dropped bytes")

    // a non-struct segment mid-path refuses loudly
    val nonStruct = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl ADD COLUMNS (event.ts.x INT)"))
    assert(nonStruct.getMessage.contains("not a struct") ||
      nonStruct.getMessage.contains("STRUCT column") ||
      nonStruct.getMessage.contains("UNRESOLVED"),
      s"non-struct parent must refuse: ${nonStruct.getMessage}")

    // DML still works against the twice-evolved schema
    spark.sql(s"DELETE FROM $tbl WHERE event.body.geo.latitude = 3.5D")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()
      .head.getLong(0) === 2)
  }

  test("CALL maintain runs the table's policy-tripped actions and " +
    "no-ops when healthy") {
    val ns = freshNs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val tbl = s"graft.$ns.ev"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $tbl SELECT id, concat('v', id) FROM range(200)")
    // healthy: no actions
    assert(spark.sql(s"CALL graft.system.maintain(table => '$ns.ev')")
      .collect().isEmpty)
    spark.sql(s"DELETE FROM $tbl WHERE k < 10") // MOR delete file
    val acts = spark.sql(s"CALL graft.system.maintain(table => '$ns.ev')")
      .collect().map(_.getString(0)).toSeq
    assert(acts === Seq("compact-deletes"),
      s"delete-file policy must trip compaction, got $acts")
    assert(spark.sql(s"SELECT count(*) FROM $tbl.delete_files")
      .collect()(0).getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()(0)
      .getLong(0) === 190)
    // quiet again
    assert(spark.sql(s"CALL graft.system.maintain(table => '$ns.ev')")
      .collect().isEmpty)
  }

  test("DELETE with a predicate evaluating to NULL keeps the row in " +
    "BOTH write modes (COW must not drop what the predicate never " +
    "matched)") {
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      val ns = freshNs()
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      val tbl = s"graft.$ns.nd"
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, v STRING) USING graft " +
        s"TBLPROPERTIES ('write.delete.mode'='$mode')")
      spark.sql(s"INSERT INTO $tbl VALUES (1,'a'), (2,NULL), (3,'x')")
      spark.sql(s"DELETE FROM $tbl WHERE v = 'x'")
      assert(spark.sql(s"SELECT id FROM $tbl ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L),
        s"[$mode] the NULL-v row must survive a DELETE it never matched")
    }
  }

  test("row-level DML with subqueries: IN-list, correlated EXISTS " +
    "(inner column name collides with the outer), NOT EXISTS UPDATE " +
    "with a scalar-subquery SET — correct in BOTH write modes") {
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      val ns = freshNs()
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      val tbl = s"graft.$ns.sq"
      val req = s"graft.$ns.req"
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, v STRING) USING graft " +
        s"TBLPROPERTIES ('write.delete.mode'='$mode'," +
        s"'write.update.mode'='$mode')")
      spark.sql(
        s"INSERT INTO $tbl SELECT id, concat('v', id) FROM range(100)")
      spark.sql(s"CREATE TABLE $req (id BIGINT) USING graft")
      spark.sql(s"INSERT INTO $req VALUES (3), (7), (250)")

      // the GDPR shape: erase every subject on the request list
      spark.sql(s"DELETE FROM $tbl WHERE id IN (SELECT id FROM $req)")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()(0)
        .getLong(0) === 98, s"[$mode] IN-subquery delete (3, 7)")
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id IN (3, 7)")
        .collect()(0).getLong(0) === 0, s"[$mode] listed ids gone")

      // correlated EXISTS whose inner relation ALSO has a column named
      // `id`: outer references must stay bound to the target, not be
      // captured by the inner scope
      spark.sql(
        s"""DELETE FROM $tbl WHERE EXISTS (
           |  SELECT 1 FROM $req r WHERE r.id = $tbl.id - 1)""".stripMargin)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()(0)
        .getLong(0) === 96, s"[$mode] correlated EXISTS delete (4, 8)")
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id IN (4, 8)")
        .collect()(0).getLong(0) === 0, s"[$mode] 4 and 8 deleted")
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id = 5")
        .collect()(0).getLong(0) === 1,
        s"[$mode] inner-scope capture would have deleted id=5 too")

      // NOT EXISTS condition + scalar subquery in SET
      spark.sql(
        s"""UPDATE $tbl
           |SET v = concat('m', CAST((SELECT max(id) FROM $req) AS STRING))
           |WHERE id < 5 AND NOT EXISTS (
           |  SELECT 1 FROM $req r WHERE r.id = $tbl.id)""".stripMargin)
      assert(spark.sql(s"SELECT id FROM $tbl WHERE v = 'm250' ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L),
        s"[$mode] NOT EXISTS update with scalar-subquery SET")
    }
  }

  test("claimed hit-discovery: DELETE/UPDATE whose subquery joins on " +
    "the bucket key read the target through the claimed layout; " +
    "results identical") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      val ns = freshNs()
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      val tbl = s"graft.$ns.bt"
      val req = s"graft.$ns.req"
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, v STRING) USING graft " +
        "PARTITIONED BY (bucket(4, id)) " +
        s"TBLPROPERTIES ('write.delete.mode'='$mode'," +
        s"'write.update.mode'='$mode')")
      spark.sql(
        s"INSERT INTO $tbl SELECT id, concat('v', id) FROM range(1000)")
      spark.sql(s"CREATE TABLE $req (id BIGINT) USING graft")
      spark.sql(s"INSERT INTO $req VALUES (30), (70), (2500)")

      val captured = new ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution,
            d: Long): Unit = captured.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        spark.sql(s"DELETE FROM $tbl WHERE id IN (SELECT id FROM $req)")
        org.apache.spark.TestListenerBus.flush(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        assert(captured.asScala.exists(_.contains("ClaimHashPartitioned")),
          s"[$mode] subquery-on-bucket-key DELETE must claim the layout")
        captured.clear()
        // MOR left a delete file: UPDATE must self-vet and fall back
        // (COW rewrote files, stays eligible) — either way, correct
        // the correlation keys the target on its BARE bucket column
        // (arithmetic lives on the subquery side) — a `r.id =
        // $tbl.id + 29` form must NOT claim: the semi-join key would
        // be id+29, which the bucket(id) layout cannot satisfy
        spark.sql(
          s"""UPDATE $tbl SET v = 'u' WHERE EXISTS (
             |  SELECT 1 FROM $req r WHERE r.id - 29 = $tbl.id)""".stripMargin)
        org.apache.spark.TestListenerBus.flush(spark.sparkContext)
        val claimedUpd =
          captured.asScala.exists(_.contains("ClaimHashPartitioned"))
        if (mode == "copy-on-write")
          assert(claimedUpd,
            "[cow] EXISTS-on-bucket-key UPDATE must claim the layout")
        else
          assert(!claimedUpd,
            "[mor] delete files present: claim must self-vet and fall back")
      } finally spark.listenerManager.unregister(listener)
      assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()(0)
        .getLong(0) === 998, s"[$mode] 30 and 70 deleted")
      assert(spark.sql(s"SELECT id FROM $tbl WHERE v = 'u' ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(1L, 41L),
        s"[$mode] ids 1 and 41 updated (30-29, 70-29)")
    }
  }
}

/** Calls of the nondeterministic `merge_tick` UDF (one JVM in local
  * mode, so executor-side increments land here). */
object MergeTicks {
  val n = new java.util.concurrent.atomic.AtomicLong()
}
