package graft.lake

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Replays the reference notebook's lifecycle and its inline assertions
  * (SURVEY.md §5 / FIXTURES.md §A) against GraftLake.
  */
class GraftTableSpec extends SparkSuite {

  private def freshWarehouse(): Path =
    graft.ScratchDirs.create("graft-wh-")

  private val piiSchema = StructType.fromDDL(
    "case_id STRING, first_name STRING, email_address STRING, " +
    "key_nm STRING, secure_txt STRING, secure_key STRING, " +
    "update_date DATE")

  private def seedRows = Seq(
    Row("case-1", "John", "john.doe@example.com", "key1", "secret text 1",
      "secret_key_1", java.sql.Date.valueOf("2023-01-01")),
    Row("case-2", "Jane", "jane.roe@example.com", "key2", "secret text 2",
      "secret_key_2", java.sql.Date.valueOf("2023-01-02")),
    Row("case-3", "Alice", "alice@example.com", "key3", "secret text 3",
      "secret_key_3", java.sql.Date.valueOf("2023-01-03")))

  private def seedDf = spark.createDataFrame(seedRows.asJava, piiSchema)

  private def newTable(): GraftTable = {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    cat.createTable("default", "pii_data", piiSchema,
      Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "copy-on-write"))
  }

  test("D6 append + S1 read round-trips the demo rows") {
    val t = newTable()
    t.append(seedDf)
    val got = t.read().orderBy("case_id").collect()
    assert(got.length === 3)
    assert(got.map(_.getString(0)).toSeq === Seq("case-1", "case-2", "case-3"))
    assert(t.currentSnapshot.get.operation === "append")
  }

  test("D8 MOR delete masks rows at read while file stays on disk " +
      "(demo.py:183-186)") {
    val t = newTable()
    t.append(seedDf)
    val before = t.files.filter("content = 0").collect()
      .map(_.getAs[String]("file_path"))
    t.delete(col("case_id") === "case-2")
    // current read excludes case-2
    val ids = t.read().select("case_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("case-1", "case-3"))
    // data file untouched on disk; a content=1 delete file appeared
    before.foreach(p => assert(Files.exists(Path.of(p))))
    assert(t.files.filter("content = 1").count() === 1)
    // forensics: the position-delete file is readable as a relation
    val delPath = t.files.filter("content = 1").head.getAs[String]("file_path")
    val delRows = spark.read.parquet(delPath)
    assert(delRows.columns.toSeq === Seq("file_path", "pos"))
    assert(delRows.count() === 1)
  }

  test("D37+ targeted expiry (snapshot_ids) + ancestors_of: named " +
    "snapshots expire exactly, protected ones refuse, the ancestry " +
    "walk stops at the expiry boundary, and no surviving parquet " +
    "byte carries the purged PII") {
    val t = newTable()
    val s0 = t.append(seedDf).snapshotId
    t.delete(col("case_id") === "case-2") // MOR delete
    val s1 = t.currentSnapshot.get.snapshotId
    t.rewriteDataFiles() // compaction drops the masked row's bytes
    val head = t.currentSnapshot.get.snapshotId
    assert(t.ancestorsOf().map(_.snapshotId) === Seq(head, s1, s0),
      "ancestors_of walks newest-first through parent links")
    assert(t.ancestorsOf(Some(s1)).map(_.snapshotId) === Seq(s1, s0))
    // protected snapshots refuse loudly
    val eCur = intercept[IllegalArgumentException](
      t.expireSnapshotsByIds(Seq(head)))
    assert(eCur.getMessage.contains("current"))
    t.createTag("audit-hold", Some(s1))
    val ePin = intercept[IllegalArgumentException](
      t.expireSnapshotsByIds(Seq(s1)))
    assert(ePin.getMessage.contains("audit-hold"))
    t.dropRef("audit-hold")
    intercept[IllegalArgumentException](
      t.expireSnapshotsByIds(Seq(999999L)))
    // the targeted purge: exactly the named pre-compaction history
    val removed = t.expireSnapshotsByIds(Seq(s0, s1))
    assert(removed.toSet === Set(s0, s1))
    intercept[IllegalArgumentException](t.readAt(s0))
    intercept[Exception](t.rollbackTo(s0))
    intercept[Exception](t.setCurrentSnapshot(s1))
    assert(t.ancestorsOf().map(_.snapshotId) === Seq(head),
      "walk must end gracefully at the expired ancestor")
    // physical permanence (the PII-resurrection property's sweep):
    // case-2's secret survives in NO parquet byte under the table
    val parquets = Files.walk(t.root).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    parquets.foreach { p =>
      val vals = spark.read.parquet(p.toString).collect()
        .flatMap(_.toSeq).map(String.valueOf)
      assert(!vals.contains("secret text 2"),
        s"surviving file $p still carries the purged value")
    }
    assert(t.read().count() === 2)
  }

  test("S2 time travel sees pre-delete state; D10 expire makes it fail " +
      "(demo.py:254-262,300-306)") {
    val t = newTable()
    val s0 = t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    // pre-delete snapshot still shows the PII
    assert(t.readAt(s0.snapshotId).count() === 3)
    // expire everything but current
    val removed = t.expireSnapshots(System.currentTimeMillis() + 1)
    assert(removed.contains(s0.snapshotId))
    val e = intercept[IllegalArgumentException](t.readAt(s0.snapshotId))
    assert(e.getMessage.contains("snapshot"))
    // current read unchanged by expiration
    assert(t.read().count() === 2)
  }

  test("D7 COW update nullifies PII columns in place (demo.py:228-235)") {
    val t = newTable()
    t.append(seedDf)
    t.update(col("case_id") === "case-1",
      Map("first_name" -> lit(null), "email_address" -> lit(null),
        "secure_txt" -> lit(null)))
    val case1 = t.read().filter("case_id = 'case-1'").head
    assert(case1.isNullAt(case1.fieldIndex("first_name")))
    assert(case1.isNullAt(case1.fieldIndex("email_address")))
    assert(case1.isNullAt(case1.fieldIndex("secure_txt")))
    assert(case1.getAs[String]("key_nm") === "key1") // untouched column
    // other rows intact
    assert(t.read().filter("case_id = 'case-3'")
      .head.getAs[String]("first_name") === "Alice")
    assert(t.currentSnapshot.get.operation === "overwrite")
  }

  test("D13/D14 rewrite applies deletes and drops delete files " +
      "(demo.py:419-452)") {
    val t = newTable()
    t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    assert(t.files.filter("content IN (1,2)").count() === 1)
    t.rewriteDataFiles(Map("rewrite-all" -> "true"))
    t.rewritePositionDeleteFiles()
    assert(t.files.filter("content IN (1,2)").count() === 0)
    val ids = t.read().select("case_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("case-1", "case-3"))
  }

  test("D11 orphan cleanup: unsafe cutoff rejected; force removes " +
      "exactly the planted orphan (demo.py:335-369)") {
    val t = newTable()
    t.append(seedDf)
    // plant an orphan like cleanup_utils.py:73-98
    val orphan = t.root.resolve("data/orphan-plant.parquet")
    seedDf.limit(1).coalesce(1).write.mode("overwrite")
      .parquet(t.root.resolve("stage-orphan").toString)
    val part = Files.list(t.root.resolve("stage-orphan")).iterator()
    var planted: Path = null
    part.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) {
        Files.move(p, orphan); planted = orphan
      } else Files.deleteIfExists(p)
    }
    Files.deleteIfExists(t.root.resolve("stage-orphan"))
    assert(planted != null && Files.exists(orphan))
    // safety: future cutoff without force → refuse (demo.py:343-358)
    intercept[IllegalArgumentException] {
      t.removeOrphanFiles(System.currentTimeMillis() + 1000)
    }
    assert(Files.exists(orphan))
    // force path (the Action-API analog, cleanup_utils.py:49-67)
    val deleted = t.removeOrphanFiles(System.currentTimeMillis() + 1000,
      force = true)
    assert(deleted.map(Path.of(_).getFileName.toString)
      === Seq("orphan-plant.parquet"))
    assert(!Files.exists(orphan))
    // live data intact
    assert(t.read().count() === 3)
  }

  test("orphan removal sweeps unreferenced manifest files (losing " +
    "commit attempts) but never live manifests or metadata versions") {
    val t = newTable()
    t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    // a losing attempt's manifest: right shape, never referenced
    val loser = t.root.resolve(
      "metadata/snap-12345-deadbeef-0000-0000-0000-000000000000.json")
    Files.writeString(loser, "[]")
    val deleted = t.removeOrphanFiles(System.currentTimeMillis() + 1000,
      force = true)
    assert(deleted.map(Path.of(_).getFileName.toString)
      .contains(loser.getFileName.toString))
    assert(!Files.exists(loser))
    // live state fully intact: reads, time travel, metadata versions
    assert(t.read().count() === 2)
    assert(t.meta.snapshots.forall(s =>
      Files.exists(t.root.resolve(s.manifestList))),
      "a live manifest was swept")
    assert(Files.exists(t.root.resolve(s"v${t.version}.metadata.json"))
      || Files.exists(t.root.resolve(
        s"metadata/v${t.version}.metadata.json")),
      "metadata version file must survive")
  }

  test("no delete files => forensics finds nothing to apply " +
      "(cleanup_utils.py:148-150)") {
    val t = newTable()
    t.append(seedDf)
    assert(t.files.filter("content IN (1,2)").count() === 0)
  }

  test("D17 ErasePii DeleteRow permanently erases: row gone, history " +
      "gone, zero delete files (README.md:49-59)") {
    val t = newTable()
    val s0 = t.append(seedDf)
    ErasePii.run(t, "case_id", "case-2", ErasePii.DeleteRow)
    assert(t.read().filter("case_id = 'case-2'").count() === 0)
    assert(t.read().count() === 2)
    intercept[IllegalArgumentException](t.readAt(s0.snapshotId))
    assert(t.files.filter("content IN (1,2)").count() === 0)
    // nothing in the data dir references case-2 anymore
    val texts = Io.listRecursive(t.root.resolve("data")).map { p =>
      spark.read.parquet(p.toString).filter("case_id = 'case-2'").count()
    }
    assert(texts.sum === 0)
  }

  test("D17 ErasePii NullifyColumns keeps the row, erases the values") {
    val t = newTable()
    t.append(seedDf)
    ErasePii.run(t, "case_id", "case-1",
      ErasePii.NullifyColumns(Seq("first_name", "email_address",
        "secure_txt")))
    val r = t.read().filter("case_id = 'case-1'").head
    assert(r.isNullAt(r.fieldIndex("first_name")))
    assert(t.read().count() === 3)
  }

  test("ErasePii refuses a permanent erase on a snapshot fork before " +
      "its first commit") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val src = cat.createTable("default", "pii_data", piiSchema, Map.empty)
    src.append(seedDf)
    val fork = cat.snapshotTable("default", "pii_fork", src)
    def state(t: GraftTable) = (t.meta.snapshots.map(_.snapshotId),
      t.read().orderBy("case_id").collect().toSeq)
    val (forkBefore, srcBefore) = (state(fork), state(src))
    val e = intercept[IllegalArgumentException](
      ErasePii.run(fork, "case_id", "case-2", ErasePii.DeleteRow))
    assert(e.getMessage.contains("gc.enabled=false"))
    assert(state(fork) === forkBefore)
    assert(state(src) === srcBefore)
    assert(forkBefore._2.exists(_.getString(0) == "case-2"))
  }

  test("equality delete (content=2) masks by key columns") {
    val t = newTable()
    t.append(seedDf)
    import spark.implicits._
    t.equalityDelete(Seq("case-3").toDF("case_id"))
    val ids = t.read().select("case_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("case-1", "case-2"))
    assert(t.files.filter("content = 2").count() === 1)
  }

  test("branch commits after a rename stamp the mapping: WAP audit " +
    "reads and published time travel resolve the renamed column") {
    val t = newTable()
    t.append(seedDf)
    t.renameColumn("first_name", "given_name")
    t.createBranch("audit")
    t.appendToBranch("audit", spark.createDataFrame(Seq(
      Row("case-9", "Zoe", "z@example.com", "k9", "s9", "sk9",
        java.sql.Date.valueOf("2024-02-02"))).asJava,
      StructType.fromDDL("case_id STRING, given_name STRING, " +
        "email_address STRING, key_nm STRING, secure_txt STRING, " +
        "secure_key STRING, update_date DATE")))
    // the WAP audit read must see values through the rename mapping
    val audit = t.readRef("audit").orderBy("case_id").collect()
    assert(audit.map(r => Option(r.getString(1))).forall(_.nonEmpty),
      "branch read lost renamed-column values (mapping not stamped)")
    assert(audit.map(_.getString(0)).toSeq ===
      Seq("case-1", "case-2", "case-3", "case-9"))
    val branchHead = t.refs("audit").snapshotId
    t.fastForward("main", branchHead)
    assert(t.readAt(branchHead).orderBy("case_id").collect()
      .map(_.getString(1)).toSeq === Seq("John", "Jane", "Alice", "Zoe"))
  }

  test("ADD COLUMN after DROP COLUMN of the same name reads NULL, " +
    "never the dropped column's lingering bytes") {
    val t = newTable()
    t.append(seedDf)
    t.dropColumns(Seq("secure_txt"))
    t.addColumns(Seq(StructField("secure_txt", StringType)))
    // old files still hold the dropped bytes under the old physical
    // name; the re-added column must NOT rebind to them
    val vals = t.read().select("secure_txt").collect().map(r =>
      Option(r.getString(0)))
    assert(vals.forall(_.isEmpty),
      s"re-added column resurrected dropped bytes: ${vals.toSeq}")
    // new writes land under the fresh physical name and read back
    // the re-added column sits at the END of the evolved schema
    t.append(spark.createDataFrame(Seq(
      Row("case-7", "Gil", "g@example.com", "k7", "sk7",
        java.sql.Date.valueOf("2024-03-03"), "fresh secret")).asJava,
      t.schema))
    assert(t.read().filter(col("case_id") === "case-7")
      .select("secure_txt").collect().map(_.getString(0)).toSeq ===
      Seq("fresh secret"))
    assert(t.physicalNames.contains("secure_txt"),
      "re-added column must carry a fresh physical alias")
  }

  test("partitions relation summarizes clustered ranges; unclustered " +
    "tables get one all-null-bounds row") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "clustered", piiSchema,
      Map("write.clustered-by" -> "case_id",
        "write.clustered-by.files" -> "2"))
    t.append(seedDf)
    val rows = t.partitionsTable.collect()
    assert(rows.length === 2, "3 rows over 2 clustered files = 2 ranges")
    assert(rows.forall(_.getString(0) == "case_id"))
    assert(rows.map(_.getLong(4)).sum === 3, "record counts must total")
    // ranges are disjoint and ordered: max of range 1 < min of range 2
    assert(rows(0).getString(2) <= rows(1).getString(1),
      s"overlapping clustered ranges: ${rows.mkString(";")}")
    // unclustered: single summary row, null bounds
    val u = cat.createTable("default", "flat", piiSchema)
    u.append(seedDf)
    val urows = u.partitionsTable.collect()
    assert(urows.map(_.getLong(4)).sum === 3)
    assert(urows.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("renameColumn keeps MOR masks, equality deletes, and stats " +
    "pruning working across the rename") {
    val t = newTable()
    t.append(seedDf)
    import spark.implicits._
    // masks recorded under the OLD name...
    t.delete(col("case_id") === "case-2") // MOR position delete
    t.equalityDelete(Seq("case-3").toDF("case_id"))
    t.renameColumn("case_id", "case_ref")
    // ...still apply when read under the NEW name
    assert(t.read().select("case_ref").collect().map(_.getString(0))
      .sorted.toSeq === Seq("case-1"))
    // new equality delete keyed on the new logical name
    t.append(spark.createDataFrame(Seq(
      Row("case-9", "Ann", "ann@example.com", "key9", "s9", "sk9",
        java.sql.Date.valueOf("2024-01-01"))).asJava,
      StructType.fromDDL("case_ref STRING, first_name STRING, " +
        "email_address STRING, key_nm STRING, secure_txt STRING, " +
        "secure_key STRING, update_date DATE")))
    t.equalityDelete(Seq("case-1").toDF("case_ref"))
    assert(t.read().select("case_ref").collect().map(_.getString(0))
      .toSeq === Seq("case-9"))
    // predicate pruning translates to the physical stat key: the
    // pruned readWhere still finds the surviving row
    assert(t.readWhere(col("case_ref") === "case-9").count() === 1)
    assert(t.readWhere(col("case_ref") === "zzz").count() === 0)
  }

  test("metadata version retention: delete-after-commit keeps only the " +
    "newest previous-versions-max version files, trims the log, and " +
    "leaves reads + time travel + history untouched") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("write.delete.mode" -> "merge-on-read",
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
    t.append(seedDf)
    val early = t.currentSnapshot.get.snapshotId
    (1 to 5).foreach(i => t.append(spark.createDataFrame(Seq(
      Row(s"case-x$i", s"N$i", s"n$i@example.com", s"k$i", s"s$i",
        s"sk$i", java.sql.Date.valueOf("2024-01-01"))).asJava, piiSchema)))
    t.delete(col("case_id") === "case-2")
    val v = t.version
    val onDisk = Files.list(t.root.resolve("metadata")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("v\\d+\\.metadata\\.json")).toSet
    // current + the 2 newest previous versions, nothing older
    assert(onDisk === Set(s"v$v.metadata.json", s"v${v - 1}.metadata.json",
      s"v${v - 2}.metadata.json"), s"unexpected version files: $onDisk")
    assert(t.metadataLogEntries.count() === 3,
      "metadata log must be trimmed with the files")
    // snapshots + manifests live in CURRENT metadata: full history,
    // current reads, and time travel to the EARLIEST snapshot all work
    assert(t.history.count() === 7)
    assert(t.read().count() === 7) // 3 + 5 - 1 deleted
    assert(t.readAt(early).count() === 3)
  }

  test("orphan cleanup sweeps retention debris version files (below " +
    "the window, outside the log) but never the hint, the log, v0 on " +
    "non-retention tables, or files at/above the hint version") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
    (1 to 5).foreach(_ => t.append(seedDf))
    val v = t.version
    val md = t.root.resolve("metadata")
    // plant crash debris: a version file below the retention window
    // (as if the trim published but the delete crashed), and a file
    // ABOVE the hint (a racing writer mid-commit) — the sweep must
    // take the first and refuse the second even with force
    Files.writeString(md.resolve("v1.metadata.json"), "{}")
    Files.writeString(md.resolve(s"v${v + 1}.metadata.json"), "{}")
    val removed = t.removeOrphanFiles(System.currentTimeMillis() + 1000,
      force = true)
    assert(removed.exists(_.endsWith("v1.metadata.json")),
      s"below-window debris not swept: $removed")
    assert(Files.exists(md.resolve(s"v${v + 1}.metadata.json")),
      "a file above the hint version was swept — that can be a racing " +
        "writer's just-published commit")
    assert(Files.exists(md.resolve(s"v$v.metadata.json")) &&
      Files.exists(md.resolve("version-hint.text")))
    assert(t.read().count() === 15) // table unharmed
    Files.deleteIfExists(md.resolve(s"v${v + 1}.metadata.json"))
    // non-retention table: v0 is legitimately absent from the log and
    // must survive an orphan sweep
    val t2 = cat.createTable("default", "pii_plain", piiSchema)
    t2.append(seedDf)
    t2.removeOrphanFiles(System.currentTimeMillis() + 1000, force = true)
    assert(Files.exists(t2.root.resolve("metadata/v0.metadata.json")),
      "non-retention history must stay on disk in full")
  }

  test("metadata tables: history/snapshots/files/all_entries/" +
      "all_manifests/metadata_log_entries have the queried columns") {
    val t = newTable()
    t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    assert(t.history.columns.toSeq ===
      Seq("made_current_at", "snapshot_id", "parent_id",
        "is_current_ancestor"))
    assert(t.history.count() === 2)
    assert(t.snapshots.select("snapshot_id", "committed_at", "manifest_list")
      .count() === 2)
    // files.content domain exactly as demo.py:204-216
    val contents = t.files.select("content").distinct().collect()
      .map(_.getInt(0)).sorted
    assert(contents.toSeq === Seq(0, 1))
    // all_entries dotted struct access (file_summary_utils.py:133-135)
    val added = t.allEntries
      .filter("status != 2")
      .groupBy("data_file.file_path")
      .agg(min("data_file.content").as("content"))
    assert(added.count() === t.files.count())
    // files must be ADDED (status=1) in the snapshot that created them —
    // regression check for snapshot-id drift between stats and commit
    val addedInOwnSnap = t.allEntries.filter("status = 1").count()
    assert(addedInOwnSnap >= t.files.count(),
      "manifest entries lost ADDED attribution in their adding snapshot")
    assert(t.allManifests.count() === 2)
    assert(t.metadataLogEntries.count() >= 2)
    // position_deletes: one live tombstone (case-2), carried by the
    // delete file the MOR delete wrote
    val pd = t.positionDeletes.collect()
    assert(pd.length === 1)
    assert(pd.head.schema.fieldNames.toSeq ===
      Seq("file_path", "pos", "delete_file_path"))
    val delFilePath = t.files.filter("content = 1").collect()
      .head.getAs[String]("file_path")
    assert(Io.normalize(pd.head.getAs[String]("delete_file_path")) ===
      Io.normalize(delFilePath))
    // entries = current snapshot's slice of all_entries
    val curSnap = t.currentSnapshot.get.snapshotId
    assert(t.entries.select("snapshot_id").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(curSnap))
    // data_files + delete_files partition files exactly
    assert(t.dataFiles.count() + t.deleteFiles.count() === t.files.count())
    assert(t.deleteFiles.count() === 1, "MOR delete must show one tombstone")
    // manifests: the current snapshot's manifest list references TWO
    // segments — the append's (REUSED verbatim, still attributed to
    // the append snapshot) plus the MOR delete's new tombstone segment
    val mf = t.manifests.collect()
    val appendSnap = t.meta.snapshots.map(_.snapshotId).min
    assert(mf.length === 2)
    assert(mf.map(_.getLong(1)).toSet === Set(appendSnap, curSnap),
      "segment provenance must name the snapshot that WROTE each segment")
    // all_files spans every snapshot's references, one row per path,
    // and is a superset of the live files
    val allPaths = t.allFiles.select("file_path").collect()
      .map(_.getString(0)).toSet
    val livePaths = t.files.select("file_path").collect()
      .map(_.getString(0)).toSet
    assert(livePaths.subsetOf(allPaths))
    assert(t.allFiles.count() === allPaths.size, "all_files must dedup by path")
    assert(t.allDataFiles.count() + t.allDeleteFiles.count()
      === t.allFiles.count())
  }

  test("stats-pruned readWhere returns the same rows as a plain filter") {
    val t = newTable()
    // two appends → two+ files with disjoint case_id ranges
    t.append(seedDf)
    val extra = Seq(
      Row("case-8", "Zed", "z@example.com", "key8", "s8", "sk8",
        java.sql.Date.valueOf("2024-05-01")))
    t.append(spark.createDataFrame(extra.asJava, piiSchema))
    val pred = col("case_id") === "case-8"
    val viaPruned = t.readWhere(pred).collect()
    val viaPlain = t.read().filter(pred).collect()
    assert(viaPruned.toSeq === viaPlain.toSeq)
    assert(viaPruned.length === 1)
    // pruning must actually shrink the scan: the case-8 predicate is
    // outside the first file's min/max, so only the second append's
    // file may be read
    val scanned = t.readWhere(pred).inputFiles
    assert(scanned.length < t.read().inputFiles.length,
      s"stats pruning read every file: ${scanned.mkString(",")}")
    assert(scanned.length === 1)
  }

  test("appendClustered: range-clustered files + stats pruning behave " +
    "like partition pruning on the cluster key") {
    val li = graft.rel.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "li_clustered",
      org.apache.spark.sql.types.StructType.fromDDL(
        li.schema.toDDL), Map.empty)
    t.appendClustered(li, Seq("l_shipdate"), nFiles = 8)
    assert(t.files.count() === 8)
    val pred = col("l_shipdate") >=
      lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))
    val pruned = t.readWhere(pred)
    // correctness: identical rows to a plain filter
    assert(pruned.count() === t.read().filter(pred).count())
    // pruning: the 2001+ tail must live in a small suffix of the
    // 8 shipdate ranges
    val scanned = pruned.inputFiles.length
    assert(scanned <= 3, s"clustered pruning scanned $scanned of 8 files")
  }

  test("FileSummary full summary + diff statuses " +
      "(file_summary_utils.py / diff_utils.py)") {
    val t = newTable()
    t.append(seedDf)
    val before = FileSummary.fullSummary(t, "run-1", "append")
    assert(before.columns.toSeq === Seq("prefix", "file_type", "file_format",
      "created_minute", "files_in_catalog", "run_id", "operation"))
    assert(before.filter("file_type = 'data'").count() >= 1)
    t.delete(col("case_id") === "case-2")
    val after = FileSummary.fullSummary(t, "run-2", "delete")
    assert(after.filter("file_type = 'position-deletes'").count() >= 1)
    val d = FileSummary.diff(before, after)
    val statuses = d.select("status").distinct().collect()
      .map(_.getString(0)).toSet
    assert(statuses.contains("ADDED")) // new delete + manifest files
    assert(d.columns.contains("delta"))
  }

  test("append normalizes column order/types by name and rejects " +
    "mismatched frames") {
    val t = newTable()
    // reversed column order must append fine
    val reversed = seedDf.select(seedDf.columns.reverse.map(col): _*)
    t.append(reversed)
    assert(t.read().orderBy("case_id").collect().map(_.getString(0)).toSeq
      === Seq("case-1", "case-2", "case-3"))
    // missing column must be rejected, not silently written
    intercept[IllegalArgumentException] {
      t.append(seedDf.drop("update_date"))
    }
  }

  test("D7 merge-on-read UPDATE: position-deletes mask old rows, new " +
    "rows appended in the same snapshot") {
    val wh = freshWarehouse()
    val cat = new GraftCatalog(spark, wh)
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_mor", piiSchema,
      Map("write.update.mode" -> "merge-on-read"))
    t.append(seedDf)
    val snapsBefore = t.snapshots.count()
    t.update(col("case_id") === "case-1",
      Map("first_name" -> lit(null).cast("string")))
    // one snapshot holds both the position-deletes and the new rows
    assert(t.snapshots.count() === snapsBefore + 1)
    val contents = t.files.select("content").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(contents === Set(0, 1), s"expected data+pos-delete files: $contents")
    val rows = t.read().orderBy("case_id").collect()
    assert(rows.length === 3)
    assert(rows.head.getString(0) === "case-1" && rows.head.isNullAt(1),
      "MOR update did not nullify in the visible read")
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("case-1", "case-2", "case-3"), "row set changed")
  }

  test("equality delete sequencing: a key re-inserted after the delete " +
    "is visible again (Iceberg sequence-number rule)") {
    val t = newTable()
    t.append(seedDf)
    t.equalityDelete(spark.createDataFrame(
      Seq(Row("case-2")).asJava, StructType.fromDDL("case_id STRING")))
    assert(!t.read().collect().map(_.getString(0)).contains("case-2"))
    // re-insert the same key AFTER the delete — must be visible
    t.append(spark.createDataFrame(Seq(
      Row("case-2", "Jane2", "jane2@example.com", "key2", "s2", "sk2",
        java.sql.Date.valueOf("2024-01-01"))).asJava, piiSchema))
    val names = t.read().filter(col("case_id") === "case-2")
      .collect().map(_.getString(1))
    assert(names.toSeq === Seq("Jane2"),
      "equality delete wrongly masked a later insert")
  }

  test("optimistic concurrency: a racing writer's metadata version makes " +
    "the commit fail loudly, table state intact") {
    val t = newTable()
    t.append(seedDf)
    val before = t.read().count()
    // simulate a concurrent committer winning the next version
    val v = t.version
    Files.writeString(
      t.root.resolve(s"metadata/v${v + 1}.metadata.json"), "{}")
    val e = intercept[java.util.ConcurrentModificationException] {
      t.append(seedDf)
    }
    assert(e.getMessage.contains("commit conflict"))
    // loser did not advance the pointer or corrupt current state
    assert(t.version === v)
    assert(t.read().count() === before)
  }

  test("operation-spanning race: a writer that commits while another " +
    "op's write job runs is detected (base version pinned at read time)") {
    val root = freshWarehouse().resolve("default").resolve("pii_race")
    @volatile var raced = false
    // CommitProvider that simulates an interleaved writer: just before
    // this op publishes, another writer lands a full append. Under a
    // commit-time version re-read the op would silently publish v+2
    // with a stale entry list, dropping the other writer's files; with
    // the base pinned at read time it must surface a conflict.
    val racing = new CommitProvider {
      override def publishNew(target: Path, content: String): Boolean = {
        if (!raced) {
          raced = true
          GraftTable.load(spark, root).append(seedDf)
        }
        Io.atomicPublishNew(target, content)
      }
      override def overwrite(target: Path, content: String): Unit =
        Io.atomicWrite(target, content)
    }
    val t = GraftTable.create(spark, root, "default.pii_race", piiSchema,
      commit = racing)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.append(seedDf)
    }
    assert(e.getMessage.contains("commit conflict"))
    // the interleaved writer's commit is intact and is the table state
    assert(GraftTable.load(spark, root).read().count() === 3)
  }

  test("retention-recycled commit token: a slow writer whose expected " +
    "version file was swept must conflict, never roll the hint back") {
    val root = freshWarehouse().resolve("default").resolve("pii_stale")
    @volatile var raced = false
    // just before this op publishes v1, another writer lands FOUR
    // commits under previous-versions-max=1 — the retention walk
    // deletes v0..v2, so this op's v1 token is free again. Without
    // the hint guard the stale publish would win and overwrite the
    // hint back to 1, silently resetting the table.
    val racing = new CommitProvider {
      override def publishNew(target: Path, content: String): Boolean = {
        if (!raced) {
          raced = true
          val other = GraftTable.load(spark, root)
          (1 to 4).foreach(_ => other.append(seedDf))
        }
        Io.atomicPublishNew(target, content)
      }
      override def overwrite(target: Path, content: String): Unit =
        Io.atomicWrite(target, content)
    }
    val t = GraftTable.create(spark, root, "default.pii_stale", piiSchema,
      Map("write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "1"),
      commit = racing)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.append(seedDf)
    }
    assert(e.getMessage.contains("recycled"), e.getMessage)
    val reloaded = GraftTable.load(spark, root)
    assert(reloaded.version === 4, "hint must never move backwards")
    assert(reloaded.read().count() === 12, "the 4 interleaved appends " +
      "are the table state; the stale writer contributed nothing")
    assert(!Files.exists(root.resolve("metadata/v1.metadata.json")),
      "the stale v1 publish must be rolled back")
  }

  test("MOR delete fans out over multiple delete files when hits exceed " +
    "write.delete.rows-per-file") {
    val t = newTable()
    t.setProperties(Map("write.delete.rows-per-file" -> "1"))
    t.append(seedDf)
    t.delete(col("case_id") =!= "case-2") // 2 hits, 1 row per delete file
    assert(t.files.filter("content = 1").count() >= 2,
      "large MOR delete should write more than one delete file")
    assert(t.read().collect().map(_.getString(0)).toSeq === Seq("case-2"))
  }

  test("retryOnConflict: concurrent appends all land under the retry " +
    "loop, none lost (Iceberg-client behavior)") {
    val root = freshWarehouse().resolve("default").resolve("pii_retry")
    GraftTable.create(spark, root, "default.pii_retry", piiSchema)
    // interleave writers at the commit point: each publishNew first
    // lets one pending rival append land, so every writer loses at
    // least once and must re-read + retry
    val rivals = new java.util.concurrent.atomic.AtomicInteger(2)
    lazy val interleaving: CommitProvider = new CommitProvider {
      override def publishNew(target: Path, content: String): Boolean = {
        if (rivals.getAndDecrement() > 0)
          GraftTable.load(spark, root).append(seedDf) // rival wins first
        Io.atomicPublishNew(target, content)
      }
      override def overwrite(target: Path, content: String): Unit =
        Io.atomicWrite(target, content)
    }
    val t = GraftTable.load(spark, root, interleaving)
    GraftTable.retryOnConflict() { t.append(seedDf) }
    // 2 rival appends + the retried one = 9 rows, nothing clobbered
    assert(GraftTable.load(spark, root).read().count() === 9)
    assert(GraftTable.load(spark, root).meta.snapshots.size === 3)
  }

  test("expire commit conflict leaves the log fully readable " +
    "(metadata swap precedes physical file deletion)") {
    val root = freshWarehouse().resolve("default").resolve("pii_expire")
    @volatile var failNext = false
    val failing = new CommitProvider {
      override def publishNew(target: Path, content: String): Boolean =
        if (failNext) { failNext = false; false }
        else Io.atomicPublishNew(target, content)
      override def overwrite(target: Path, content: String): Unit =
        Io.atomicWrite(target, content)
    }
    val t = GraftTable.create(spark, root, "default.pii_expire", piiSchema,
      commit = failing)
    val s0 = t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    failNext = true
    intercept[java.util.ConcurrentModificationException] {
      t.expireSnapshots(System.currentTimeMillis() + 1)
    }
    // nothing was physically deleted before the failed commit: the
    // whole log is still traversable and time travel still works
    assert(t.allEntries.count() > 0)
    assert(t.readAt(s0.snapshotId).count() === 3)
    // a retry after the conflict succeeds and actually expires
    assert(t.expireSnapshots(System.currentTimeMillis() + 1).nonEmpty)
    intercept[IllegalArgumentException](t.readAt(s0.snapshotId))
  }

  test("SHOW TBLPROPERTIES carries the reference's synthetic keys; " +
    "DESCRIBE EXTENDED lists schema + snapshot + mode summary " +
    "(.ipynb cells 7/17, README.md:66)") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_desc", piiSchema,
      Map("write.delete.mode" -> "merge-on-read"))
    val pre = cat.showTableProperties("default", "pii_desc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pre("current-snapshot-id") === "none")
    assert(pre("format") === "graft/parquet")
    assert(pre("format-version") === "1")
    assert(pre("write.delete.mode") === "merge-on-read")
    val snap = t.append(seedDf)
    val post = cat.showTableProperties("default", "pii_desc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(post("current-snapshot-id") === snap.snapshotId.toString)
    val desc = cat.describeExtended("default", "pii_desc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    piiSchema.fields.foreach(f =>
      assert(desc(f.name) === f.dataType.simpleString))
    assert(desc("Current-snapshot-id") === snap.snapshotId.toString)
    assert(desc("Delete-mode") === "merge-on-read")
    assert(desc("Update-mode") === "copy-on-write")
    assert(desc("Last-operation") === "append")
    assert(desc("Location") === t.root.toAbsolutePath.toString)
  }

  test("warehouse path with a space: MOR deletes still mask rows " +
    "(Spark URL-encodes _metadata.file_path, so the delete anti-join " +
    "must match the %20 spelling too)") {
    val wh = graft.ScratchDirs.create("graft wh spaced ")
    val cat = new GraftCatalog(spark, wh)
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("write.delete.mode" -> "merge-on-read"))
    t.append(seedDf)
    t.delete(col("case_id") === "case-2")
    val ids = t.read().select("case_id").collect()
      .map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("case-1", "case-3"),
      "deleted row must stay masked when the table root contains a space")
    // equality deletes go through the same uriForms sequencing join
    t.equalityDelete(spark.createDataFrame(
      Seq(Row("case-3")).asJava, StructType.fromDDL("case_id STRING")))
    assert(t.read().select("case_id").collect()
      .map(_.getString(0)).toSeq === Seq("case-1"))
    // COW update rewrites the right files despite the encoded paths
    t.update(col("case_id") === "case-1",
      Map("secure_txt" -> lit(null).cast("string")))
    val row = t.read().select("case_id", "secure_txt").collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("case-1", null)))
  }

  test("changelog: append/MOR delete/COW update emit insert+delete row " +
    "events; compaction emits nothing; ranges slice by snapshot") {
    val t = newTable()
    val s1 = t.append(seedDf)
    t.delete(col("case_id") === "case-2")   // MOR position delete
    val s2 = t.currentSnapshot.get
    t.update(col("case_id") === "case-1",   // COW rewrite
      Map("first_name" -> lit(null)))
    def key(r: Row) = (r.getAs[String]("_change_type"),
      r.getAs[String]("case_id"), r.getAs[String]("first_name"))
    val all = t.changes().collect()
    // append: 3 inserts at ordinal 0
    assert(all.filter(_.getAs[Int]("_change_ordinal") == 0).map(key)
      .sorted.toSeq === Seq(("insert", "case-1", "John"),
        ("insert", "case-2", "Jane"), ("insert", "case-3", "Alice")))
    // MOR delete: exactly the masked row, as it was
    assert(all.filter(_.getAs[Int]("_change_ordinal") == 1).map(key)
      .toSeq === Seq(("delete", "case-2", "Jane")))
    // COW update: old versions of the rewritten file's VISIBLE rows out,
    // new versions in — balanced, includes the updated row, and never
    // re-emits rows already masked at the parent (file layout decides
    // how many carried rows ride along)
    val cow = all.filter(_.getAs[Int]("_change_ordinal") == 2).map(key)
    assert(cow.count(_._1 == "insert") === cow.count(_._1 == "delete"))
    assert(cow.contains(("delete", "case-1", "John")))
    assert(cow.contains(("insert", "case-1", null)))
    assert(!all.map(key).contains(("delete", "case-2", null)),
      "COW rewrite must not re-emit rows already masked at the parent")
    // ordinals follow commit order; snapshot ids attributed per commit
    assert(all.filter(_.getAs[Long]("_commit_snapshot_id") ==
      s1.snapshotId).forall(_.getAs[Int]("_change_ordinal") == 0))
    // range (s1, s2]: only the MOR delete
    val mid = t.changes(Some(s1.snapshotId), Some(s2.snapshotId)).collect()
    assert(mid.map(key).toSeq === Seq(("delete", "case-2", "Jane")))
    // compaction is data-neutral: rewrite emits no change rows
    val preRewrite = t.changes().count()
    t.rewriteDataFiles(Map("rewrite-all" -> "true"))
    assert(t.changes().count() === preRewrite,
      "replace snapshots must not appear in the changelog")
    // equality delete emits the visible matching row as a delete
    t.equalityDelete(spark.createDataFrame(
      Seq(Row("case-3")).asJava, StructType.fromDDL("case_id STRING")))
    val last = t.changes(Some(t.meta.snapshots.init.last.snapshotId), None)
      .collect()
    assert(last.map(key).toSeq === Seq(("delete", "case-3", "Alice")))
    // unknown snapshot id fails like time travel does
    intercept[IllegalArgumentException](t.changes(Some(999999L), None))
    // after expiry, a commit whose parent is gone cannot be diffed:
    // fail with guidance instead of over-reporting its adds as inserts
    t.expireSnapshots(System.currentTimeMillis() + 100000, retainLast = 1)
    val gap = intercept[IllegalStateException](t.changes().collect())
    assert(gap.getMessage.contains("was expired"))
    val oldestRetained = t.meta.snapshots.head.snapshotId
    assert(t.changes(Some(oldestRetained), None).collect() != null,
      "starting after the gap must work")
  }

  test("rewrite sort-order: plain sort range-clusters the leading " +
    "column; zorder(a,b) bounds BOTH columns' per-file stat windows " +
    "so single-column predicates prune either way") {
    val gridSchema = StructType.fromDDL("a INT, b INT, payload STRING")
    // 32x32 grid appended in a deterministically scrambled order
    val rows = (for (a <- 0 until 32; b <- 0 until 32)
      yield Row(Int.box(a), Int.box(b), s"payload-$a-$b-" + "x" * 64))
      .sortBy(r => (r.getInt(0) * 37 + r.getInt(1) * 101) % 997)
    def mk(name: String): GraftTable = {
      val cat = new GraftCatalog(spark, freshWarehouse())
      cat.createNamespace("default")
      val t = cat.createTable("default", name, gridSchema, Map.empty)
      t.append(spark.createDataFrame(rows.asJava, gridSchema)
        .repartition(4))
      t
    }
    def target(t: GraftTable): Long = math.max(1L,
      t.manifestOf(t.currentSnapshot.get).filter(_.content == 0)
        .map(_.fileSizeBytes).sum / 4)
    def windows(t: GraftTable): Seq[(Int, Int, Int, Int)] =
      t.manifestOf(t.currentSnapshot.get).filter(_.content == 0).map { e =>
        (e.stats("a").min.toInt, e.stats("a").max.toInt,
          e.stats("b").min.toInt, e.stats("b").max.toInt)
      }
    val sorted = mk("grid_sort")
    sorted.rewriteDataFiles(Map("sort-order" -> "a,b",
      "target-file-size-bytes" -> target(sorted).toString))
    val zordered = mk("grid_z")
    zordered.rewriteDataFiles(Map("sort-order" -> "zorder(a, b)",
      "target-file-size-bytes" -> target(zordered).toString))
    val sw = windows(sorted)
    val zw = windows(zordered)
    assert(sw.size >= 3 && zw.size >= 3, "rewrites must split files")
    // plain sort: leading-column ranges are disjoint (clustered)...
    val byMinA = sw.sortBy(_._1)
    assert(byMinA.sliding(2).forall {
      case Seq(p, n) => p._2 <= n._1; case _ => true
    }, s"sorted files must carry disjoint leading-column ranges: $sw")
    // ...but every file spans (nearly) the whole trailing column, so a
    // predicate on b alone prunes nothing
    assert(sw.forall { case (_, _, bMin, bMax) => bMax - bMin >= 28 })
    // zorder: most files bound BOTH columns (only partitions straddling
    // a quadrant boundary may span a full column)
    assert(zw.count { case (aMin, aMax, bMin, bMax) =>
      aMax - aMin < 28 && bMax - bMin < 28
    } * 2 >= zw.size, s"zorder files must bound both columns: $zw")
    // pruning on the trailing column: strictly fewer z-files admit b=3
    val sAdmit = sw.count { case (_, _, bMin, bMax) => bMin <= 3 && 3 <= bMax }
    val zAdmit = zw.count { case (_, _, bMin, bMax) => bMin <= 3 && 3 <= bMax }
    assert(zAdmit < sAdmit,
      s"zorder must prune trailing-column predicates ($zAdmit vs $sAdmit)")
    // layout changes, data doesn't
    assert(zordered.read().count() === 1024)
    assert(zordered.read().select(sum(col("a") * 1000 + col("b")))
      .head.getLong(0) ===
      sorted.read().select(sum(col("a") * 1000 + col("b"))).head.getLong(0))
  }

  test("refs: tags/branches pin snapshots against expiry, read by " +
    "name, branches fast-forward, tags don't") {
    val t = newTable()
    t.append(seedDf)
    val s1 = t.currentSnapshot.get.snapshotId
    t.createTag("pre-delete")
    t.delete(col("case_id") === "case-2")
    val s2 = t.currentSnapshot.get.snapshotId
    t.createBranch("audit", Some(s1))
    // read by ref name sees the snapshot the ref pins
    assert(t.readRef("pre-delete").count() === 3)
    assert(t.readRef("audit").count() === 3)
    assert(t.read().count() === 2)
    // refs metadata table lists main + named refs
    val refRows = t.refsTable.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refRows === Set(("main", "BRANCH", s2),
      ("audit", "BRANCH", s1), ("pre-delete", "TAG", s1)))
    // expire with a future cutoff: the ref'd snapshot SURVIVES
    t.expireSnapshots(System.currentTimeMillis() + 100000)
    assert(t.readRef("pre-delete").count() === 3,
      "tagged snapshot must survive expiry")
    // branches fast-forward; tags are immutable
    t.fastForward("audit", s2)
    assert(t.readRef("audit").count() === 2)
    intercept[IllegalArgumentException](t.fastForward("pre-delete", s2))
    // dropping the last ref unpins: snapshot now expires
    t.dropRef("pre-delete")
    t.dropRef("audit")
    t.expireSnapshots(System.currentTimeMillis() + 100000)
    intercept[IllegalArgumentException](t.readAt(s1))
    // duplicate ref name and unknown snapshot are rejected
    t.createTag("x")
    intercept[IllegalArgumentException](t.createTag("x"))
    intercept[IllegalArgumentException](t.createBranch("y", Some(12345L)))
  }

  test("cherry-pick refuses non-append snapshots: a delete snapshot's " +
    "file delta could reference data files compacted away on main") {
    val t = newTable()
    t.append(seedDf)
    t.createBranch("wip")
    // stage a MOR delete on the branch — its snapshot adds a delete
    // file whose victim data file main could meanwhile rewrite
    t.deleteOnBranch("wip", col("case_id") === "case-2")
    val staged = t.refSnapshotId("wip")
    val e = intercept[IllegalArgumentException](
      t.cherrypickSnapshot(staged))
    assert(e.getMessage.contains("only append"), e.getMessage)
    // append snapshots still pick fine
    t.appendToBranch("wip", spark.createDataFrame(Seq(
      Row("case-9", "Nina", "n@example.com", "k9", "s9", "sk9",
        java.sql.Date.valueOf("2024-01-01"))).asJava, piiSchema))
    t.cherrypickSnapshot(t.refSnapshotId("wip"))
    assert(t.read().select("case_id").collect().map(_.getString(0))
      .sorted.toSeq === Seq("case-1", "case-2", "case-3", "case-9"))
  }

  test("write-audit-publish: append to a branch is invisible on main " +
    "until fast_forward publishes it; tags reject writes") {
    val t = newTable()
    t.append(seedDf)
    t.createBranch("staging")
    val extra = spark.createDataFrame(Seq(Row("case-4", "Eve",
      "eve@example.com", "key4", "secret text 4", "secret_key_4",
      java.sql.Date.valueOf("2023-02-01"))).asJava, piiSchema)
    val preHead = t.refSnapshotId("staging")
    val snap = t.appendToBranch("staging", extra)
    // audit: branch sees 4 rows, main still 3
    assert(t.readRef("staging").count() === 4)
    assert(t.read().count() === 3)
    // changelog walks MAIN ancestry: staged branch commits emit nothing
    assert(t.changes().collect().map(_.getAs[String]("case_id")).sorted
      .toSeq === Seq("case-1", "case-2", "case-3"),
      "unpublished branch commits must not emit change rows")
    assert(snap.summary("branch") === "staging")
    assert(snap.parentId === Some(preHead),
      "branch append must chain off the branch head")
    assert(t.refSnapshotId("staging") === snap.snapshotId)
    // publish: fast-forward main to the branch head
    t.fastForward("main", t.refSnapshotId("staging"))
    assert(t.read().count() === 4)
    assert(t.read().filter(col("case_id") === "case-4").count() === 1)
    // once published, the branch commit IS head ancestry: its insert
    // now appears in the changelog
    assert(t.changes().collect().count(r =>
      r.getAs[String]("case_id") == "case-4" &&
        r.getAs[String]("_change_type") == "insert") === 1)
    // tags reject writes
    t.createTag("frozen")
    intercept[IllegalArgumentException](t.appendToBranch("frozen", extra))
    // explicit main writes PIN THE HEAD even while spark.wap.branch is
    // set: the session conf must not re-route them to the staged
    // branch (Iceberg: an explicit branch wins over wap.branch)
    spark.conf.set("spark.wap.branch", "staging")
    try {
      val headBefore = t.read().count()
      val stagedBefore = t.readRef("staging").count()
      t.appendToBranch("main", spark.createDataFrame(Seq(
        Row("case-7", "Max", "m@example.com", "k7", "s7", "sk7",
          java.sql.Date.valueOf("2024-02-02"))).asJava, piiSchema))
      t.deleteOnBranch("main", col("case_id") === "case-7")
      assert(t.readMainBranch().count() === headBefore,
        "main append+delete must land on the HEAD under wap.branch")
      assert(t.readRef("staging").count() === stagedBefore,
        "wap.branch must not receive an explicit branch=main write")
    } finally spark.conf.unset("spark.wap.branch")
    // branch DML: COW delete + update staged on the branch, invisible
    // on main until the next publish
    val mainBefore = t.read().count()
    t.deleteOnBranch("staging", col("case_id") === "case-2")
    t.updateOnBranch("staging", col("case_id") === "case-1",
      Map("secure_txt" -> lit("STAGED")))
    assert(t.read().count() === mainBefore,
      "branch DML must not change main")
    val staged = t.readRef("staging").orderBy("case_id").collect()
    assert(!staged.map(_.getString(0)).contains("case-2"))
    assert(staged.filter(_.getString(0) == "case-1")
      .map(_.getAs[String]("secure_txt")).toSeq === Seq("STAGED"))
    assert(t.read().filter(col("secure_txt") === "STAGED").count() === 0)
    // publish the audited state
    t.fastForward("main", t.refSnapshotId("staging"))
    assert(t.read().filter(col("case_id") === "case-2").count() === 0)
    assert(t.read().filter(col("secure_txt") === "STAGED").count() === 1)
    intercept[IllegalArgumentException](
      t.deleteOnBranch("frozen", lit(true)))
  }

  test("spark.wap.branch auto-create race: two writers racing the " +
    "first conf-routed append both land on the branch, main untouched") {
    val t = newTable()
    t.append(seedDf)
    spark.conf.set("spark.wap.branch", "wapauto")
    try {
      val errors =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val threads = (1 to 2).map { tid =>
        new Thread(() => {
          try {
            val h = GraftTable.load(spark, t.root)
            barrier.await()
            GraftTable.retryOnConflict(maxAttempts = 10,
                firstBackoffMs = 20) {
              h.append(spark.createDataFrame(Seq(
                Row(s"case-w$tid", s"W$tid", s"w$tid@example.com",
                  s"kw$tid", s"sw$tid", s"skw$tid",
                  java.sql.Date.valueOf("2024-04-01"))).asJava,
                piiSchema))
            }
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, s"racing WAP writers failed: " +
        errors.toArray.map { case e: Throwable => e.getMessage }
          .mkString("; "))
      // both writes staged on the auto-created branch
      assert(t.readRef("wapauto").count() === 5)
      assert(t.refs("wapauto").refType === "branch")
    } finally spark.conf.unset("spark.wap.branch")
    // main never saw either write
    assert(t.read().count() === 3)
  }

  test("branch DML honors merge-on-read: staged position/equality " +
    "delete files mask branch reads only, publish makes them permanent") {
    val t = newTable() // write.delete.mode=merge-on-read
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    t.append(seedDf)
    val dataFiles = t.files.filter("content = 0").collect()
      .map(_.getAs[String]("file_path"))
    t.createBranch("staging")
    // position-delete staged on the branch
    val del = t.deleteOnBranch("staging", col("case_id") === "case-2").get
    assert(del.summary("mode") === "merge-on-read",
      "branch delete must follow write.delete.mode, not force COW")
    assert(del.summary("branch") === "staging")
    // equality-delete staged on the branch
    val eq = t.equalityDeleteOnBranch("staging",
      seedDf.filter(col("case_id") === "case-3").select("email_address")).get
    assert(eq.summary("mode") === "equality")
    // MOR update staged on the branch
    t.updateOnBranch("staging", col("case_id") === "case-1",
      Map("secure_txt" -> lit("AUDITED")))
    // audit: branch masks case-2/case-3 and sees the update; main is
    // untouched and its data files were NOT rewritten (that's the
    // point of MOR staging)
    val staged = t.readRef("staging").orderBy("case_id").collect()
    assert(staged.map(_.getString(0)).toSeq === Seq("case-1"))
    assert(staged.map(_.getAs[String]("secure_txt")).toSeq ===
      Seq("AUDITED"))
    assert(t.read().orderBy("case_id").collect().map(_.getString(0))
      .toSeq === Seq("case-1", "case-2", "case-3"))
    dataFiles.foreach(p => assert(Files.exists(Path.of(p)),
      "MOR branch DML must not rewrite main's data files"))
    // the branch head's manifest carries the staged delete files
    val head = t.refSnapshotId("staging")
    val headSnap = t.snapshotOrFail(head)
    assert(headSnap.summary("total-delete-files").toInt >= 3,
      s"expected staged delete files, got ${headSnap.summary}")
    // publish: masks apply on main, changelog emits the deletes
    t.fastForward("main", head)
    assert(t.files.filter("content = 1").count() >= 2)
    assert(t.files.filter("content = 2").count() === 1)
    assert(t.read().orderBy("case_id").collect().map(_.getString(0))
      .toSeq === Seq("case-1"))
    val changed = t.changes().collect()
    assert(changed.count(r => r.getAs[String]("case_id") == "case-2" &&
      r.getAs[String]("_change_type") == "delete") === 1)
    assert(changed.count(r => r.getAs[String]("case_id") == "case-3" &&
      r.getAs[String]("_change_type") == "delete") === 1)
  }

  test("rowDelta: single-commit upsert — one snapshot carries the " +
    "equality-delete file and the new data files; new rows visible, " +
    "older matches masked; state equals delete-then-append; CDC " +
    "emits delete-of-old + insert-of-new") {
    val t = newTable()
    t.append(seedDf)
    // twin table for the two-commit equivalent
    val t2 = newTable()
    t2.append(seedDf)
    val upsert = spark.createDataFrame(Seq(
      Row("case-2", "Janet", "janet@example.com", "key2", "rotated 2",
        "secret_key_2b", java.sql.Date.valueOf("2023-02-01")),
      Row("case-4", "Dave", "dave@example.com", "key4", "secret text 4",
        "secret_key_4", java.sql.Date.valueOf("2023-02-02"))).asJava,
      piiSchema)
    val before = t.meta.snapshots.size
    val snap = t.rowDelta(upsert.select("case_id"), upsert)
    assert(t.meta.snapshots.size === before + 1,
      "row delta must be exactly one commit")
    assert(snap.operation === "overwrite")
    assert(snap.summary("equality-columns").nonEmpty)
    // upserted image visible, old case-2 masked, untouched rows intact
    val got = t.read().orderBy("case_id").collect()
    assert(got.map(_.getString(0)).toSeq ===
      Seq("case-1", "case-2", "case-3", "case-4"))
    assert(got.find(_.getString(0) == "case-2").get
      .getAs[String]("first_name") === "Janet",
      "same-snapshot data files must NOT be masked by the delete")
    // bit-equal to the two-commit path
    t2.equalityDelete(upsert.select("case_id"))
    t2.append(upsert)
    assert(t.read().orderBy("case_id").collect().toSeq ===
      t2.read().orderBy("case_id").collect().toSeq)
    // CDC: the delta window emits delete(old case-2) + inserts(new)
    val win = t.changes(Some(t.meta.snapshots(before - 1).snapshotId))
      .collect()
    assert(win.count(r => r.getAs[String]("case_id") == "case-2" &&
      r.getAs[String]("_change_type") == "delete" &&
      r.getAs[String]("first_name") == "Jane") === 1)
    assert(win.count(r => r.getAs[String]("_change_type") == "insert")
      === 2)
    // empty key set degenerates to a plain append (no delete file)
    val extra = spark.createDataFrame(Seq(
      Row("case-5", "Eve", "eve@example.com", "key5", "secret text 5",
        "secret_key_5", java.sql.Date.valueOf("2023-02-03"))).asJava,
      piiSchema)
    val snap2 = t.rowDelta(extra.limit(0).select("case_id"), extra)
    assert(snap2.operation === "append")
    assert(t.files.filter("content = 2").count() === 1,
      "empty key set must not add a delete file")
    assert(t.read().count() === 5)
  }

  test("add_files imports external parquet without rewrite: bytes " +
    "copied, footer stats committed, pruning + snapshots work; type " +
    "drift rejected") {
    val external = graft.ScratchDirs.create("graft-import-src")
    spark.range(0, 1000)
      .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS tag")
      .repartitionByRange(4, col("k"))
      .write.parquet(external.resolve("t").toString)
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "imported",
      StructType.fromDDL("k BIGINT, tag STRING"))
    val snap = t.addFiles(external.resolve("t"))
    assert(snap.operation === "append")
    assert(snap.summary("added-records") === "1000")
    assert(t.read().count() === 1000)
    // footer stats landed -> stats pruning bounds a point read
    val entries = t.manifestOf(snap).filter(_.content == 0)
    assert(entries.size >= 4)
    assert(entries.forall(_.stats.contains("k")))
    assert(t.readWhere(col("k") === 3L).collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // lifecycle composes: a MOR delete masks an imported row
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("k") === 3L)
    assert(t.read().filter(col("k") === 3L).count() === 0)
    // type drift rejected before any commit
    val bad = graft.ScratchDirs.create("graft-import-bad")
    spark.range(0, 5).selectExpr("CAST(id AS INT) AS k",
      "CAST(id AS STRING) AS tag")
      .write.parquet(bad.resolve("t").toString)
    val e = intercept[IllegalArgumentException](
      t.addFiles(bad.resolve("t")))
    assert(e.getMessage.contains("type mismatch"))
  }

  test("footer-based write stats equal the distributed-scan stats " +
    "(same stat spaces: days/micros/longs/doubles/raw strings/0-1 " +
    "booleans), so pruning is unchanged without the second data pass") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL("s STRING, i INT, l BIGINT, d DOUBLE, " +
      "f FLOAT, b BOOLEAN, dt DATE, ts TIMESTAMP_NTZ, " +
      // four decimal shapes: INT32 (p≤9), INT64 (p≤18),
      // FIXED_LEN_BYTE_ARRAY (p>18), and a scale-8 column whose tiny
      // values would render SCIENTIFIC under BigDecimal.toString
      // ('1E-8') — Spark's cast and the footer decode must BOTH use
      // the plain form, and this pins it
      "m9 DECIMAL(9,2), m18 DECIMAL(12,2), m38 DECIMAL(24,6), " +
      "m8s DECIMAL(20,8)")
    val t = cat.createTable("default", "typed", sch)
    def dec(s0: String) = new java.math.BigDecimal(s0)
    val rows = Seq(
      Row("alpha", Int.box(-3), Long.box(7L), Double.box(1.5),
        Float.box(2.25f), Boolean.box(false),
        java.sql.Date.valueOf("2023-01-05"),
        java.time.LocalDateTime.parse("2023-01-05T10:30:00"),
        dec("12.40"), dec("-33078.94"), dec("98765432109876.543210"),
        dec("0.00000001")),
      Row("Ωmega", Int.box(41), Long.box(-9L), Double.box(-0.25),
        Float.box(3.5f), Boolean.box(true),
        java.sql.Date.valueOf("2024-06-01"),
        java.time.LocalDateTime.parse("2024-06-01T00:00:01"),
        dec("-0.05"), dec("100.00"), dec("-1.000001"),
        dec("0.00000002")),
      Row(null, null, null, null, null, null, null, null,
        null, null, null, null))
    t.append(spark.createDataFrame(rows.asJava, sch))
    val entries = t.manifestOf(t.currentSnapshot.get)
      .filter(_.content == 0)
    val paths = entries.map(e =>
      t.root.resolve(e.path).toAbsolutePath.toString)
    val viaFooters = t.statEntriesViaFooters(paths, 0, 99L)
    val viaScan = t.statEntriesViaScan(paths, 0, 99L)
    assert(viaFooters.map(_.recordCount).sum === 3)
    for ((f, s) <- viaFooters.sortBy(_.path).zip(viaScan.sortBy(_.path))) {
      assert(f.recordCount === s.recordCount)
      assert(f.stats.keySet === s.stats.keySet,
        s"stat columns differ for ${f.path}")
      for (k <- s.stats.keySet) assert(f.stats(k) === s.stats(k),
        s"stat mismatch for column $k in ${f.path}")
    }
    // the committed manifest actually used the footer path (stats
    // present without any stats scan having produced different values)
    assert(entries.flatMap(_.stats.get("dt")).nonEmpty)
    // decimal stats landed in scale-preserving plain form
    val allStats = viaFooters.flatMap(_.stats.get("m18")).map(_.min)
    assert(allStats.contains("-33078.94"), s"m18 mins: $allStats")
  }

  test("TIMESTAMP_NTZ predicates prune files through the shared " +
    "micros stat space (mayMatch compares the literal's micros " +
    "against footer bounds numerically)") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL("id BIGINT, ts TIMESTAMP_NTZ")
    val t = cat.createTable("default", "tsp", sch)
    def dayRows(day: Int, n: Int) = (0 until n).map(i => Row(
      Long.box(day * 100L + i),
      java.time.LocalDateTime.of(2024, 2, day, 0, 0, 0)
        .plusMinutes(i.toLong)))
    t.append(spark.createDataFrame(dayRows(1, 50).asJava, sch))
    t.append(spark.createDataFrame(dayRows(5, 50).asJava, sch))
    val all = t.read().inputFiles.length
    assert(all >= 2, s"expected two files, got $all")
    val lateOnly = t.readWhere(col("ts") >=
      lit("2024-02-05 00:00:00").cast(TimestampNTZType))
    assert(lateOnly.inputFiles.length < all,
      "a day-5 point read must prune the day-1 file")
    assert(lateOnly.count() === 50L)
    val none = t.readWhere(col("ts") <
      lit("2024-01-01 00:00:00").cast(TimestampNTZType))
    assert(none.inputFiles.isEmpty && none.count() === 0L,
      "an out-of-range predicate must prune every file")
  }

  test("DECIMAL lifecycle: append/read exact, COW update arithmetic, " +
    "MOR delete on a DECIMAL predicate, stats-pruned point read, " +
    "precision>18 roundtrip") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL(
      "k BIGINT, price DECIMAL(12,2), micro DECIMAL(24,6)")
    val t = cat.createTable("default", "money", sch,
      Map("write.delete.mode" -> "merge-on-read"))
    def dec(s0: String) = new java.math.BigDecimal(s0)
    // several appends -> several files, so pruning has files to skip
    for (base <- Seq(0L, 100L, 200L)) {
      val rows = (0 until 4).map { j =>
        Row(Long.box(base + j), dec(f"${base + j}%d.25"),
          dec(s"12345678901234567.00000${j + 1}"))
      }
      t.append(spark.createDataFrame(rows.asJava, sch))
    }
    assert(t.read().count() === 12)
    // exact roundtrip at both precisions
    val r0 = t.read().filter(col("k") === 201L).collect().head
    assert(r0.getDecimal(1).toPlainString === "201.25")
    assert(r0.getDecimal(2).toPlainString === "12345678901234567.000002")
    // stats-pruned point read on the DECIMAL column: only the file
    // whose [min,max] can contain 201.25 is read
    val hits = t.readWhere(col("price") === dec("201.25")).collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(201L))
    val pruned = t.currentSnapshot.map(s0 =>
      t.manifestOf(s0).filter(_.content == 0)).get
    assert(pruned.forall(_.stats.contains("price")),
      "decimal stats must land in the manifest")
    // MOR delete through a DECIMAL comparison
    t.delete(col("price") > dec("199.00"))
    assert(t.read().count() === 8)
    // COW update with DECIMAL arithmetic stays exact
    t.setProperties(Map("write.update.mode" -> "copy-on-write"))
    t.update(col("k") === 3L, Map("price" ->
      (col("price") + lit(dec("0.10"))).cast(
        org.apache.spark.sql.types.DecimalType(12, 2))))
    val upd = t.read().filter(col("k") === 3L).collect().head
    assert(upd.getDecimal(1).toPlainString === "3.35")
    // schema evolution: widen is refused (decimal widening would need
    // a parquet rewrite of unscaled ints — metadata-only is unsafe)
    val w = intercept[IllegalArgumentException](
      t.widenColumn("price", org.apache.spark.sql.types.DecimalType(14, 2)))
    assert(w.getMessage.contains("unsupported type change"))
  }

  test("D2-D5 catalog DDL: create/load/props/drop") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema)
    assert(cat.tableExists("default", "pii_data"))
    assert(cat.listTables("default") === Seq("pii_data"))
    cat.setTableProperties("default", "pii_data",
      Map("write.delete.mode" -> "merge-on-read"))
    val props = cat.showTableProperties("default", "pii_data").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.delete.mode") === "merge-on-read")
    // idempotent create-if-not-exists returns the same table
    val again = cat.createTable("default", "pii_data", piiSchema)
    assert(again.root === t.root)
    assert(cat.dropTable("default", "pii_data"))
    assert(!cat.tableExists("default", "pii_data"))
  }

  test("ref age retention (history.expire.max-ref-age-ms): an " +
      "aged-out tag LAPSES during expiry so it cannot pin PII history " +
      "forever; fresh refs still pin; unset keeps refs immortal") {
    val t = newTable()
    t.append(seedDf)
    val s0 = t.currentSnapshot.get.snapshotId
    t.createTag("audit", Some(s0))
    t.delete(col("case_id") === "case-2") // MOR hide
    t.rewriteDataFiles(Map("rewrite-all" -> "true")) // drop the bytes
    // default (unset): the tag pins s0 against expiry — the subject
    // is still reachable through it (the GDPR-durability hole)
    assert(!t.expireSnapshots(retainLast = 1).contains(s0))
    assert(t.readRef("audit")
      .filter(col("case_id") === "case-2").count() === 1)
    // with a max ref age, the stale tag lapses and s0 finally expires:
    // NO retained snapshot reaches the subject anymore
    t.setProperties(Map("history.expire.max-ref-age-ms" -> "0"))
    assert(t.expireSnapshots(retainLast = 1).contains(s0))
    assert(!t.refs.contains("audit"))
    for (s <- t.meta.snapshots)
      assert(t.readAt(s.snapshotId)
        .filter(col("case_id") === "case-2").count() === 0,
        s"snapshot ${s.snapshotId} still reaches the erased subject")
    // a FRESH tag (well under the age cap) keeps pinning
    t.setProperties(Map("history.expire.max-ref-age-ms" -> "3600000"))
    val s3 = t.append(seedDf.limit(1)).snapshotId
    t.createTag("fresh", Some(s3))
    // per-ref RETAIN overrides the table default BOTH ways: a 0 ms
    // cap lapses under a generous table default, and a generous cap
    // survives a table default of 0
    val s3b = t.append(seedDf.limit(1)).snapshotId
    t.createTag("ephemeral", Some(s3b), maxRefAgeMs = Some(0L))
    Thread.sleep(2)
    t.append(seedDf.limit(1))
    t.expireSnapshots(retainLast = 1)
    assert(t.refs.contains("fresh"))
    assert(!t.refs.contains("ephemeral"),
      "a per-ref 0ms RETAIN must lapse under a generous table default")
    assert(t.meta.snapshots.exists(_.snapshotId === s3),
      "a fresh tag must still pin its snapshot")
    t.setProperties(Map("history.expire.max-ref-age-ms" -> "0"))
    val s4 = t.append(seedDf.limit(1)).snapshotId
    t.createTag("durable", Some(s4), maxRefAgeMs = Some(3600000L))
    Thread.sleep(2)
    t.append(seedDf.limit(1))
    t.expireSnapshots(retainLast = 1)
    assert(t.refs.contains("durable") &&
      t.meta.snapshots.exists(_.snapshotId === s4),
      "a generous per-ref RETAIN must survive a table default of 0")
  }

  // ---- incremental manifest segments (Iceberg manifest-reuse) ----

  private def segFiles(t: GraftTable): Seq[Path] =
    Io.listRecursive(t.root.resolve("metadata"))
      .filter(_.getFileName.toString.startsWith("seg-"))

  test("a commit writes manifest metadata O(delta), not O(table " +
      "files): an append to an N-file table reuses the parent's " +
      "segments verbatim and writes one segment for ONLY its new " +
      "entries") {
    val t = newTable()
    // one append producing N=8 data files → one 8-entry segment
    val wide = (1 to 64).map(i => Row(f"case-a$i%03d", s"N$i",
      s"n$i@example.com", s"k$i", s"s$i", s"sk$i",
      java.sql.Date.valueOf("2024-01-01")))
    t.appendClustered(spark.createDataFrame(wide.asJava, piiSchema),
      Seq("case_id"), nFiles = 8)
    val s1 = t.currentSnapshot.get
    val segs1 = t.segmentsOf(s1)
    assert(segs1.size === 1 && segs1.head.entryCount === 8)
    // a 1-row append: the 8-entry segment is referenced VERBATIM
    // (same path — zero bytes rewritten for it) plus one new segment
    // holding exactly the new entry
    t.append(seedDf.limit(1))
    val s2 = t.currentSnapshot.get
    val segs2 = t.segmentsOf(s2)
    assert(segs2.size === 2)
    assert(segs2.head === segs1.head, "parent segment must be reused")
    assert(segs2.last.entryCount === 1,
      "the new segment must hold ONLY the commit's added entries")
    // O(delta) in bytes too: the new segment is far smaller than the
    // reused one (1 entry vs 8)
    assert(segs2.last.sizeBytes < segs1.head.sizeBytes / 4)
    // and the manifest LIST is O(segments), entries never inlined
    assert(Files.size(t.root.resolve(s2.manifestList)) < 1024)
    assert(t.read().count() === 65)
  }

  test("fast-append is O(delta) DRIVER WORK too: an append to an " +
      "N-segment table reads ZERO parent segments — the child list is " +
      "the parent's refs verbatim plus one new segment, and summary " +
      "totals come from the refs' carried aggregates") {
    val t = newTable()
    (1 to 5).foreach(_ => t.append(seedDf.limit(1)))
    // a FRESH handle has empty parse caches, so any parent-segment
    // read on the append path would show up as a segment load
    val t2 = GraftTable.load(spark, t.root)
    val parent = t2.currentSnapshot.get
    val parentRefs = t2.segmentsOf(parent)
    assert(parentRefs.size === 5)
    val loadsBefore = t2.segmentLoads.get()
    val snap = t2.append(seedDf.limit(1))
    assert(t2.segmentLoads.get() === loadsBefore,
      "a pure append must never read a parent segment's bytes")
    val childRefs = t2.segmentsOf(t2.currentSnapshot.get)
    assert(childRefs.take(5) === parentRefs,
      "parent segments must be reused verbatim, in order")
    assert(childRefs.size === 6 && childRefs.last.entryCount === 1)
    // totals derived from segment-ref aggregates match the table state
    assert(snap.summary("total-records") === "6")
    assert(snap.summary("total-data-files") === "6")
    assert(snap.summary("total-delete-files") === "0")
    assert(t2.read().count() === 6)
  }

  test("CDC and appends-between windows are O(delta) metadata: an " +
      "appends-only window on an N-segment table reads ONLY each " +
      "commit's own new segment — shared parent segments cancel in " +
      "the slice diff and are never parsed") {
    val t = newTable()
    val snaps = (1 to 6).map(_ => t.append(seedDf.limit(1)).snapshotId)
    val from = snaps(3) // window = the last two commits
    val t2 = GraftTable.load(spark, t.root) // empty parse caches
    assert(t2.changes(Some(from)).count() === 2)
    assert(t2.segmentLoads.get() === 2,
      "an appends-only CDC window must read exactly the window's own " +
        s"new segments, got ${t2.segmentLoads.get()}")
    assert(t2.appendsBetween(from, snaps.last).count() === 2)
    assert(t2.segmentLoads.get() === 2,
      "appendsBetween must reuse the same two segments (ref-provenance " +
        "prune: parent-written refs never read)")
  }

  test("MOR DML is O(delta) too: past the distributed threshold a " +
      "fresh handle plans and commits a MOR delete, an equality " +
      "delete, and a rowDelta upsert with ZERO parent-segment reads — " +
      "parent refs reuse verbatim, one new segment per commit") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("d")
    val t = cat.createTable("d", "t", seedDf.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    (1 to 4).foreach(_ => t.append(seedDf))
    val key = "spark.graft.metadata.distributedThreshold"
    spark.conf.set(key, "2")
    try {
      val t2 = GraftTable.load(spark, t.root)
      val parentRefs = t2.segmentsOf(t2.currentSnapshot.get)
      assert(parentRefs.size === 4)
      t2.delete(col("case_id") === "case-1") // MOR position delete
      assert(t2.segmentLoads.get() === 0,
        "MOR delete must not read parent segments")
      val afterDel = t2.segmentsOf(t2.currentSnapshot.get)
      assert(afterDel.take(4) === parentRefs && afterDel.size === 5)
      import scala.jdk.CollectionConverters._
      t2.equalityDelete(spark.createDataFrame(
        Seq(org.apache.spark.sql.Row("case-2")).asJava,
        StructType.fromDDL("case_id STRING")))
      t2.rowDelta(
        spark.createDataFrame(
          Seq(org.apache.spark.sql.Row("case-3")).asJava,
          StructType.fromDDL("case_id STRING")),
        seedDf.limit(1))
      assert(t2.segmentLoads.get() === 0,
        "equality delete / rowDelta must not read parent segments")
      assert(t2.segmentsOf(t2.currentSnapshot.get).take(4) === parentRefs,
        "parent segments must stay shared verbatim across MOR DML")
    } finally spark.conf.unset(key)
    // rows are correct through the masks (this read parses segments):
    // the 4 case-1 copies are position-deleted but rowDelta re-added
    // one (new files outrank older deletes); case-2 equality-deleted;
    // case-3's older copies masked by rowDelta's key file
    assert(t.read().filter(col("case_id") === "case-1").count() === 1)
    assert(t.read().filter(col("case_id") === "case-2").count() === 0)
    assert(t.read().filter(col("case_id") === "case-3").count() === 0)
  }

  test("COW DML is segment-narrowed DRIVER WORK: past the distributed " +
      "threshold a fresh handle plans AND commits a 1-file COW delete " +
      "parsing EXACTLY the owning segment — the refs' carried path " +
      "bounds skip every other parent segment") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("d")
    val t = cat.createTable("d", "t", piiSchema,
      Map("write.delete.mode" -> "copy-on-write"))
    // 6 single-file appends → 6 one-entry segments with tight bounds
    (1 to 6).foreach { i =>
      val rows = Seq(Row(s"case-n$i", s"N$i", s"n$i@example.com",
        s"k$i", s"s$i", s"sk$i", java.sql.Date.valueOf("2024-01-01")))
      t.append(spark.createDataFrame(rows.asJava, piiSchema))
    }
    val key = "spark.graft.metadata.distributedThreshold"
    spark.conf.set(key, "2")
    try {
      val t2 = GraftTable.load(spark, t.root) // empty parse caches
      val parentRefs = t2.segmentsOf(t2.currentSnapshot.get)
      assert(parentRefs.size === 6)
      assert(parentRefs.forall(r => r.minPath.isDefined &&
        r.maxPath.isDefined), "segment refs must carry path bounds")
      t2.delete(col("case_id") === "case-n4")
      assert(t2.segmentLoads.get() === 1,
        "a 1-file COW on a 6-segment table must parse exactly the " +
          s"owning segment, got ${t2.segmentLoads.get()}")
      val after = t2.segmentsOf(t2.currentSnapshot.get)
      // 5 untouched parent segments shared VERBATIM; the victim's
      // one-entry segment vanished with its only entry (no rewrite);
      // no replacement data files (the delete emptied the file)
      assert(after.toSet.intersect(parentRefs.toSet).size === 5,
        "untouched parent segments must be reused verbatim")
      assert(!after.contains(parentRefs(3)))
    } finally spark.conf.unset(key)
    assert(t.read().count() === 5)
    assert(t.read().filter(col("case_id") === "case-n4").count() === 0)
  }

  test("COW update past the threshold reads only touched segments and " +
      "appends its rewritten file last — survivors keep segment order") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("d")
    val t = cat.createTable("d", "t", piiSchema,
      Map("write.update.mode" -> "copy-on-write"))
    // one multi-file append (one segment with several entries) plus
    // single-file appends around it
    val wide = (1 to 32).map(i => Row(f"case-w$i%02d", s"N$i",
      s"n$i@example.com", s"k$i", s"s$i", s"sk$i",
      java.sql.Date.valueOf("2024-02-01")))
    t.appendClustered(spark.createDataFrame(wide.asJava, piiSchema),
      Seq("case_id"), nFiles = 4)
    t.append(seedDf)
    val key = "spark.graft.metadata.distributedThreshold"
    spark.conf.set(key, "2")
    try {
      val t2 = GraftTable.load(spark, t.root)
      val parentRefs = t2.segmentsOf(t2.currentSnapshot.get)
      assert(parentRefs.size === 2)
      // update one row inside the 4-file clustered segment: that
      // segment is read (and rewritten with 3 survivors), the seedDf
      // segment is skipped by bounds
      t2.update(col("case_id") === "case-w07",
        Map("secure_txt" -> lit("REDACTED")))
      assert(t2.segmentLoads.get() === 1,
        "only the touched segment may be parsed, got " +
          t2.segmentLoads.get())
      val after = t2.segmentsOf(t2.currentSnapshot.get)
      assert(after.contains(parentRefs(1)),
        "the untouched segment must stay shared verbatim")
      assert(after.last.entryCount === 1 && after.last.dataFileCount === 1,
        "the rewritten data file must land in a fresh trailing segment")
    } finally spark.conf.unset(key)
    assert(t.read().filter(col("secure_txt") === "REDACTED").count() === 1)
    assert(t.read().count() === 35)
  }

  test("whole-log sweeps are distributed past the threshold: a fresh " +
      "handle expires history and removes orphans with ZERO driver " +
      "segment parses, deleting exactly what the driver walk would") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("d")
    val t = cat.createTable("d", "t", piiSchema,
      Map("write.delete.mode" -> "copy-on-write"))
    (1 to 5).foreach { i =>
      val rows = Seq(Row(s"case-n$i", s"N$i", s"n$i@example.com",
        s"k$i", s"s$i", s"sk$i", java.sql.Date.valueOf("2024-01-01")))
      t.append(spark.createDataFrame(rows.asJava, piiSchema))
    }
    t.delete(col("case_id") === "case-n2") // history-only file after this
    val dataDir = t.root.resolve("data")
    val preFiles = Io.listRecursive(dataDir)
      .map(_.toAbsolutePath.toString).toSet
    // what the driver walk would keep: the current snapshot's files
    val liveFiles = t.files.select("file_path").collect()
      .map(_.getString(0)).toSet
    assert((preFiles -- liveFiles).nonEmpty,
      "the COW-replaced file must exist pre-expiry")
    val key = "spark.graft.metadata.distributedThreshold"
    spark.conf.set(key, "2")
    try {
      val t2 = GraftTable.load(spark, t.root) // empty parse caches
      val removedIds = t2.expireSnapshots(retainLast = 1)
      assert(removedIds.size === 5)
      assert(t2.segmentLoads.get() === 0,
        "distributed expiry must not parse segments on the driver, " +
          s"got ${t2.segmentLoads.get()}")
      val postFiles = Io.listRecursive(dataDir)
        .map(_.toAbsolutePath.toString).toSet
      assert(postFiles === liveFiles,
        "expiry must delete exactly the history-only files")
      // orphan sweep: plant a file no snapshot references
      val orphan = dataDir.resolve("stray-import.parquet")
      Files.writeString(orphan, "not really parquet")
      val t3 = GraftTable.load(spark, t.root)
      val sweptAll = t3.removeOrphanFiles(
        olderThanMs = System.currentTimeMillis() + 1000, force = true)
      assert(t3.segmentLoads.get() === 0,
        "distributed orphan sweep must not parse segments on the " +
          s"driver, got ${t3.segmentLoads.get()}")
      val sweptData = sweptAll.filter(_.contains("/data/"))
      assert(sweptData ===
        Seq(orphan.toAbsolutePath.toString),
        "exactly the planted orphan must be swept from data/")
      assert(!Files.exists(orphan))
    } finally spark.conf.unset(key)
    assert(t.read().count() === 4)
    assert(t.read().filter(col("case_id") === "case-n2").count() === 0)
  }

  test("a COW delete rewrites ONLY the segment that lost entries; " +
      "untouched segments stay shared by path") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("write.delete.mode" -> "copy-on-write"))
    t.append(seedDf) // segment A (file holds case-1..3)
    val segA = t.segmentsOf(t.currentSnapshot.get).head
    val extra = Seq(Row("case-8", "Zed", "z@example.com", "key8", "s8",
      "sk8", java.sql.Date.valueOf("2024-05-01")))
    t.append(spark.createDataFrame(extra.asJava, piiSchema)) // segment B
    t.delete(col("case_id") === "case-8") // rewrites only B's file
    val segs = t.segmentsOf(t.currentSnapshot.get)
    assert(segs.contains(segA),
      "a segment whose entries all survive must be reused verbatim")
    assert(t.read().count() === 3)
  }

  test("rewrite_manifests compacts segment sprawl into one segment: " +
      "data untouched, reads bit-equal, changelog emits nothing") {
    val t = newTable()
    t.append(seedDf)
    (1 to 3).foreach(i => t.append(spark.createDataFrame(Seq(
      Row(s"case-x$i", s"N$i", s"n$i@example.com", s"k$i", s"s$i",
        s"sk$i", java.sql.Date.valueOf("2024-01-01"))).asJava,
      piiSchema)))
    val before = t.currentSnapshot.get
    assert(t.segmentsOf(before).size === 4)
    val rowsBefore = t.read().orderBy("case_id").collect().toSeq
    val s = t.rewriteManifests().get
    assert(s.operation === "replace")
    assert(s.summary("manifests-replaced") === "4")
    val segs = t.segmentsOf(t.currentSnapshot.get)
    assert(segs.size === 1 && segs.head.entryCount === 4)
    assert(t.read().orderBy("case_id").collect().toSeq === rowsBefore)
    // the compaction snapshot's entry list is bit-identical to its
    // parent's → the changelog window over it emits zero row events
    assert(t.changes(Some(before.snapshotId), Some(s.snapshotId))
      .count() === 0)
    // idempotent below the threshold: one segment < minSegments=2
    assert(t.rewriteManifests().isEmpty)
  }

  test("a commit whose removed file lies outside every parent " +
      "segment's path bounds refuses before publishing: version, rows " +
      "and files stay unchanged") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("d")
    val t = cat.createTable("d", "t", piiSchema,
      Map("write.delete.mode" -> "copy-on-write"))
    t.append(seedDf) // the segment holding case-1..3
    t.append(spark.createDataFrame(Seq(Row("case-8", "Zed",
      "z@example.com", "key8", "s8", "sk8",
      java.sql.Date.valueOf("2024-05-01"))).asJava, piiSchema))
    val head = t.currentSnapshot.get
    val refs = t.segmentsOf(head)
    assert(refs.size === 2)
    // a bounds bug: the seed segment's bounds sort after every entry
    // path it holds, so no removal can find its entries through them
    val bad = refs.head.copy(minPath = Some("zzz-a"), maxPath = Some("zzz-b"))
    Files.writeString(t.root.resolve(head.manifestList),
      Json.write(ManifestListDoc(bad +: refs.tail)))
    val t2 = GraftTable.load(spark, t.root) // parses the edited list
    val v = t2.version
    def rows(g: GraftTable) = g.read().collect().map(_.toSeq).toSet
    def files(g: GraftTable) =
      g.files.select("file_path").collect().map(_.getString(0)).toSet
    val rowsBefore = rows(t2)
    val filesBefore = files(t2)
    val e = intercept[IllegalStateException](
      t2.delete(col("case_id") === "case-2"))
    assert(e.getMessage.contains("nothing was published"), e.getMessage)
    val t3 = GraftTable.load(spark, t.root)
    assert(t3.version === v)
    assert(t3.currentSnapshot.map(_.snapshotId) === Some(head.snapshotId))
    assert(rows(t3) === rowsBefore && rowsBefore.size === 4)
    assert(files(t3) === filesBefore)
  }

  test("currentSnapshot and history resolve the head within ONE " +
      "metadata version: a commit plus a retain-last-1 expiry landing " +
      "between two reads cannot hide the head") {
    val t = newTable()
    t.append(seedDf)
    val other = GraftTable.load(spark, t.root)
    var armed = false
    // the first version read after arming lets another handle commit
    // twice and expire every older snapshot before this read returns
    val racy = new GraftTable(spark, t.root) {
      override def version: Int = {
        val v = super.version
        if (armed) {
          armed = false
          other.append(seedDf.limit(1))
          other.append(seedDf.limit(1))
          Thread.sleep(2)
          other.expireSnapshots(retainLast = 1)
        }
        v
      }
    }
    val head = t.currentSnapshot.get.snapshotId
    armed = true
    assert(racy.currentSnapshot.map(_.snapshotId) === Some(head))
    val head2 = t.currentSnapshot.get.snapshotId
    armed = true
    val hist = racy.history.collect()
      .map(r => r.getAs[Long]("snapshot_id") ->
        r.getAs[Boolean]("is_current_ancestor")).toMap
    assert(hist === Map(head2 -> true))
  }

  test("readMainBranch, readRef, readWhere and read resolve the head, " +
      "its schema and its mapping within ONE metadata version: a commit " +
      "plus a retain-last-1 expiry between two reads cannot make them " +
      "throw") {
    val t = newTable()
    t.append(seedDf)
    val other = GraftTable.load(spark, t.root)
    var armed = false
    // as above: the first version read after arming lets another handle
    // commit twice and expire every older snapshot, including the head
    // that version names, and the manifest list of that head
    val racy = new GraftTable(spark, t.root) {
      override def version: Int = {
        val v = super.version
        if (armed) {
          armed = false
          other.append(seedDf.limit(1))
          other.append(seedDf.limit(1))
          Thread.sleep(2)
          other.expireSnapshots(retainLast = 1)
        }
        v
      }
    }
    val reads = Seq[(String, GraftTable => org.apache.spark.sql.DataFrame)](
      "readMainBranch" -> (_.readMainBranch()),
      "readRef(main)" -> (_.readRef("main")),
      "readWhere" -> (_.readWhere(col("case_id") =!= "none")),
      "read" -> (_.read()))
    for ((name, read) <- reads) {
      val before = t.read().count()
      armed = true
      val n = read(racy).count()
      assert(!armed, s"$name never read the version")
      // either head the read could have resolved: the one its first
      // version named, or the one published by the racing commits
      assert(n === before || n === before + 2, name)
    }
  }

  test("merge-on-commit bounds segment sprawl: a commit whose list " +
      "reaches min-count-to-merge folds adjacent small segments into " +
      "one; below the threshold commits stay O(delta); disabling the " +
      "knob keeps segments apart") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("commit.manifests.min-count-to-merge" -> "4"))
    t.append(seedDf)
    (1 to 2).foreach(_ => t.append(seedDf.limit(1)))
    assert(t.segmentsOf(t.currentSnapshot.get).size === 3,
      "below min-count commits must keep writing O(delta) segments")
    t.append(seedDf.limit(1)) // list would hit 4 → auto-merge
    val merged = t.segmentsOf(t.currentSnapshot.get)
    assert(merged.size === 1 && merged.head.entryCount === 4)
    assert(t.read().count() === 6)
    // the next commit is O(delta) again on top of the merged segment
    t.append(seedDf.limit(1))
    assert(t.segmentsOf(t.currentSnapshot.get).size === 2)
    // knob off: sprawl is the scheduler's problem (rewrite_manifests)
    val t2 = cat.createTable("default", "pii2", piiSchema,
      Map("commit.manifests.min-count-to-merge" -> "4",
        "commit.manifest-merge.enabled" -> "false"))
    (1 to 5).foreach(_ => t2.append(seedDf.limit(1)))
    assert(t2.segmentsOf(t2.currentSnapshot.get).size === 5)
  }

  test("expiry never deletes a segment a retained snapshot still " +
      "references; unshared segments and list files of expired " +
      "snapshots go") {
    val t = newTable()
    t.append(seedDf)
    val s1 = t.currentSnapshot.get
    t.append(spark.createDataFrame(Seq(
      Row("case-9", "Ann", "a@example.com", "k9", "s9", "sk9",
        java.sql.Date.valueOf("2024-01-01"))).asJava, piiSchema))
    val s2 = t.currentSnapshot.get
    val sharedSeg = t.segmentsOf(s1).head // also referenced by s2
    assert(t.segmentsOf(s2).contains(sharedSeg))
    t.expireSnapshots(retainLast = 1)
    assert(t.meta.snapshots.map(_.snapshotId) === Seq(s2.snapshotId))
    // s1's manifest LIST is gone, but the shared segment (and the
    // data files it references) must survive for s2's reads
    assert(!Files.exists(t.root.resolve(s1.manifestList)))
    assert(Files.exists(t.root.resolve(sharedSeg.path)),
      "expiry deleted a segment the retained snapshot still references")
    assert(t.read().count() === 4)
  }

  test("maintenance.manifests.min-count policy compacts segments " +
      "through maintain(); a compacted table is a no-op") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii_data", piiSchema,
      Map("maintenance.manifests.min-count" -> "3",
        // keep the small-file policy out of the way
        "maintenance.compact.min-small-files" -> "1000"))
    t.append(seedDf)
    t.append(seedDf.limit(1))
    assert(t.maintain().isEmpty, "2 segments < min-count 3")
    t.append(seedDf.limit(1))
    val report = t.maintain()
    assert(report.map(_._1) === Seq("rewrite-manifests"))
    assert(t.segmentsOf(t.currentSnapshot.get).size === 1)
    assert(t.maintain().isEmpty, "healthy table must be a no-op")
    assert(t.read().count() === 5)
  }

  test("maintenance.analyze.stale-commits policy re-ANALYZEs stale " +
      "NDV sketches through maintain(); fresh sketches and not-enough-" +
      "commits are no-ops") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL("k BIGINT, tag STRING")
    val t = cat.createTable("default", "ndvm", sch,
      Map("maintenance.analyze.stale-commits" -> "2",
        "maintenance.compact.min-small-files" -> "1000",
        "maintenance.compact.min-delete-files" -> "1000"))
    t.append(spark.range(100).selectExpr("id AS k",
      "concat('t', id) AS tag"))
    // never analyzed: the policy has nothing to refresh
    assert(t.maintain().isEmpty, "no sketches -> no-op")
    t.computeTableStats(Seq("k"))
    assert(t.maintain().isEmpty, "fresh sketch -> no-op")
    // stale (delete) but only ONE commit since the fold point
    t.delete(col("k") < 10L)
    def stale() = t.statsTable.collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap.apply("k")
    assert(stale())
    assert(t.maintain().isEmpty,
      "stale but under the commit threshold -> no-op")
    // a second commit trips the policy: maintain re-analyzes
    t.append(spark.range(200, 220).selectExpr("id AS k",
      "concat('t', id) AS tag"))
    val report = t.maintain()
    assert(report.map(_._1) === Seq("analyze"), report.toString)
    assert(!stale(), "re-analyze must leave the sketch fresh")
    assert(t.columnNdv("k").contains(110L),
      "refreshed NDV reflects the live domain (90 survivors + 20 new)")
    assert(t.maintain().isEmpty, "refreshed table is a no-op again")
  }

  test("per-column analyze policies: maintenance.analyze.columns " +
      "scopes the refresh, a per-column stale-commits threshold " +
      "overrides the table default, and .stats surfaces " +
      "commits_since_fold") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL("k BIGINT, tag STRING")
    val t = cat.createTable("default", "ndvp", sch, Map(
      "maintenance.analyze.stale-commits" -> "10", // table default: slow
      "maintenance.analyze.stale-commits.k" -> "2", // hot join key: fast
      "maintenance.analyze.columns" -> "k", // never auto-scan tag
      "maintenance.compact.min-small-files" -> "1000",
      "maintenance.compact.min-delete-files" -> "1000"))
    t.append(spark.range(100).selectExpr("id AS k",
      "concat('t', id) AS tag"))
    t.computeTableStats()
    def statRow(c: String) = t.statsTable.collect()
      .map(r => r.getString(0) -> r).toMap.apply(c)
    assert(statRow("k").getLong(6) === 0L, "fresh sketch has age 0")
    // stale via delete; ONE commit < k's threshold of 2 -> no-op
    t.delete(col("k") < 10L)
    assert(statRow("k").getLong(6) === 1L,
      "one row-removing commit since the fold point")
    assert(t.maintain().isEmpty,
      "stale but under k's per-column threshold -> no-op")
    // second commit: k trips its threshold; tag is scoped OUT and its
    // table default (10) is far away — only k re-analyzes
    t.append(spark.range(200, 220).selectExpr("id AS k",
      "concat('t', id) AS tag"))
    val report = t.maintain()
    assert(report.map(_._1) === Seq("analyze"), report.toString)
    // every entry carries a per-file sketch (ANALYZE stamped the load,
    // the COW delete stamped its rewrites, the append stamped its new
    // files), so the refresh is the metadata-only refold
    assert(report.head._2.contains("re-folded k from file sketches"),
      report.toString)
    assert(!statRow("k").getBoolean(5), "k refreshed")
    assert(statRow("k").getLong(6) === 0L, "refresh resets the age")
    assert(statRow("tag").getBoolean(5),
      "tag stays stale: scoped out of the auto-refresh")
    assert(t.columnNdv("k").contains(110L),
      "refreshed NDV reflects the live domain (90 survivors + 20 new)")
  }

  test("per-file NDV sketches close the subtract-on-delete gap: a " +
      "mass COW delete refolds the table sketch from SURVIVING " +
      "entries' sketches — zero Spark jobs, no corpus re-scan, " +
      "estimate identical to a fresh ANALYZE — and .stats reads " +
      "fresh; MOR-masked tables refuse the refold until compaction " +
      "unmasks them") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val sch = StructType.fromDDL("k BIGINT, grp BIGINT")
    val t = cat.createTable("default", "ndvf", sch)
    // spark.range partitions are k-RANGES, so files carry disjoint k
    // windows and the delete below prunes: some files survive with
    // their ANALYZE-time stamps, some are rewritten (stamped by the
    // COW commit), some drop entirely
    t.append(spark.range(1000).selectExpr("id AS k", "id % 10 AS grp"))
    t.computeTableStats(Seq("k")) // stamps every entry (replace commit)
    t.append( // post-ANALYZE append: folded AND stamped
      spark.range(1000, 1200).selectExpr("id AS k", "id % 10 AS grp"))
    assert(t.columnNdv("k").isDefined)
    val preDelete = t.columnNdv("k").get
    // mass delete: everything above 600 goes (half the table)
    t.delete(col("k") >= 600L)
    def statRow() = t.statsTable.collect()
      .map(r => r.getString(0) -> r).toMap.apply("k")
    assert(statRow().getBoolean(5), "the delete must flip stale")
    assert(t.columnNdv("k").get === preDelete,
      "the stale sketch is the un-subtracted upper bound")
    // refold: file-count-bounded metadata work — assert ZERO jobs
    val (refolded, jobs) =
      graft.SparkJobs.count(spark.sparkContext)(t.refoldColumnStats())
    assert(jobs === 0,
      "refold must run from manifest metadata alone — no Spark jobs")
    assert(refolded.isDefined, "all entries stamped -> refold eligible")
    assert(!statRow().getBoolean(5), ".stats must read fresh again")
    assert(statRow().getLong(6) === 0L, "refold resets the fold age")
    // 600 live distinct values exceed k=256, so the estimate is the
    // KMV estimator — and must EQUAL what a fresh corpus-scan ANALYZE
    // computes (bottom-k closure), within the sketch's error of truth
    val refoldEst = refolded.get("k")
    val rescanEst = t.computeTableStats(Seq("k"))("k")
    assert(refoldEst === rescanEst,
      s"refold ($refoldEst) must equal the corpus re-scan ($rescanEst)")
    assert(math.abs(refoldEst - 600L) * 5 <= 600L,
      s"estimate $refoldEst strays from the live domain 600")
    // MOR-masked rows: per-file sketches overcount, refold REFUSES —
    // compaction applies the deletes, stamps the compacted files, and
    // the table becomes refold-eligible again
    val tm = cat.createTable("default", "ndvfm", sch,
      Map("write.delete.mode" -> "merge-on-read"))
    tm.append(spark.range(100).selectExpr("id AS k", "id % 10 AS grp"))
    tm.computeTableStats(Seq("k"))
    tm.delete(col("k") < 10L) // position-delete file, data unmasked
    assert(tm.refoldColumnStats().isEmpty,
      "live delete files must refuse the refold")
    tm.rewriteDataFiles()
    assert(tm.refoldColumnStats().map(_("k")) === Some(90L),
      "compaction unmasks and stamps; refold is exact below k")
    // opt-out: a table with stats.file-ndv=false never stamps
    val to = cat.createTable("default", "ndvfo", sch,
      Map("stats.file-ndv" -> "false"))
    to.append(spark.range(50).selectExpr("id AS k", "id % 10 AS grp"))
    to.computeTableStats(Seq("k"))
    to.delete(col("k") < 10L)
    assert(to.refoldColumnStats().isEmpty,
      "opted-out tables have no file sketches to refold from")
  }

  test("ANALYZE of an empty table stays FRESH; the first append's " +
      "fold adopts the commit as the fold point, so maintain() never " +
      "pointlessly re-ANALYZEs an append-only table") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "ndve",
      StructType.fromDDL("k BIGINT"),
      Map("maintenance.analyze.stale-commits" -> "1",
        "maintenance.compact.min-small-files" -> "1000",
        "maintenance.compact.min-delete-files" -> "1000"))
    t.computeTableStats(Seq("k"))
    def row() = t.statsTable.collect().head
    assert(!row().getBoolean(5),
      "an empty-table sketch is exact (zero rows), not stale")
    assert(t.maintain().isEmpty, "nothing to refresh on the empty table")
    t.append(spark.range(50).selectExpr("id AS k"))
    assert(!row().getBoolean(5),
      "the first append folds and adopts the commit as the fold point")
    assert(row().getLong(4) >= 0L, "fold point advanced off -1")
    assert(t.columnNdv("k").contains(50L), "folded estimate is exact")
    assert(t.maintain().isEmpty,
      "append-only analyzed-from-empty table must stay quiet")
  }

  test("a malformed numeric maintenance property fails the sweep UP " +
      "FRONT with the property name — never halfway through, never " +
      "silently skipped; out-of-Int-range and unknown-column keys " +
      "refuse too") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "badprop",
      StructType.fromDDL("k BIGINT"),
      Map("maintenance.analyze.stale-commits" -> "often"))
    t.append(spark.range(10).selectExpr("id AS k"))
    val e = intercept[IllegalArgumentException](t.maintain())
    assert(e.getMessage.contains("maintenance.analyze.stale-commits"),
      e.getMessage)
    assert(e.getMessage.contains("often"), e.getMessage)
    // an Int-consumed policy above Int.MaxValue refuses instead of
    // wrapping (4294967296.toInt == 0 would expire-retain nothing)
    val t2 = cat.createTable("default", "badprop2",
      StructType.fromDDL("k BIGINT"),
      Map("maintenance.expire.retain-last" -> "4294967296",
        "maintenance.expire.max-age-ms" -> "1"))
    t2.append(spark.range(5).selectExpr("id AS k"))
    val e2 = intercept[IllegalArgumentException](t2.maintain())
    assert(e2.getMessage.contains("out of int range"), e2.getMessage)
    // a mistyped per-column analyze key refuses like analyze.columns
    val t3 = cat.createTable("default", "badprop3",
      StructType.fromDDL("k BIGINT"),
      Map("maintenance.analyze.stale-commits.nope" -> "1"))
    t3.append(spark.range(5).selectExpr("id AS k"))
    val e3 = intercept[IllegalArgumentException](t3.maintain())
    assert(e3.getMessage.contains("unknown column"), e3.getMessage)
  }

  test("a per-column stale-commits override ALONE (no table default, " +
      "no columns scope) activates the auto-refresh, matching its " +
      "column case-insensitively") {
    val cat = new GraftCatalog(spark, freshWarehouse())
    cat.createNamespace("default")
    val t = cat.createTable("default", "ndvsolo",
      StructType.fromDDL("k BIGINT"),
      Map("maintenance.analyze.stale-commits.K" -> "1", // case differs
        "maintenance.compact.min-small-files" -> "1000",
        "maintenance.compact.min-delete-files" -> "1000"))
    t.append(spark.range(100).selectExpr("id AS k"))
    t.computeTableStats(Seq("k"))
    t.delete(col("k") < 10L)
    val report = t.maintain()
    assert(report.map(_._1) === Seq("analyze"), report.toString)
    assert(t.columnNdv("k").contains(90L))
  }

  test("orphan removal sweeps unreferenced SEGMENT files (losing " +
      "commit attempts) but never segments shared by live manifests") {
    val t = newTable()
    t.append(seedDf)
    t.append(seedDf.limit(1))
    val live = segFiles(t).map(_.toAbsolutePath.toString).toSet
    val loser = t.root.resolve(
      "metadata/seg-12345-deadbeef-0000-0000-0000-000000000000.json")
    Files.writeString(loser, "[]")
    val deleted = t.removeOrphanFiles(System.currentTimeMillis() + 1000,
      force = true)
    assert(deleted.contains(loser.toAbsolutePath.toString))
    assert(!Files.exists(loser))
    live.foreach(p => assert(Files.exists(Path.of(p)),
      "a live segment was swept"))
    assert(t.read().count() === 4)
  }
}
