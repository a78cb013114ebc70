package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardWatchEventKinds}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkJobs, SparkSuite}
import graft.rel.Kmv

/** A permanent [[ErasePii]] erase, one rewrite of just the files that
  * hold the subject, checked against a reference model: the composition
  * the erase used before ([[ErasePiiReference]]: DML, a rewrite-all, a
  * position-delete rewrite, a sketch refold, expiry, orphan sweep).
  * Both must leave the same rows and the same NDV sketches; the erase
  * must also write no delete file, commit two metadata versions, run
  * fewer Spark jobs, leave the files without the subject in place,
  * refuse while a kept ref still reads the subject, and leave no byte
  * of the erased values or their sketch hashes anywhere under the
  * table root. */
class ErasePiiSpec extends SparkSuite {
  import ErasePiiSpec._

  private val ddl = "case_id STRING, first_name STRING, " +
    "email_address STRING, key_nm STRING"

  private def person(i: Int): Row =
    Row(s"case-$i", s"name-$i", s"user$i@example.com", s"key-$i")

  private def frame(t: GraftTable, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, t.schema)

  private def newTable(layout: String): GraftTable =
    GraftTable.create(spark,
      graft.ScratchDirs.create("graft-erase-").resolve("t"), "default.t",
      StructType.fromDDL(ddl), Map("write.delete.mode" -> layout,
        "write.update.mode" -> layout))

  private val layouts = Seq("merge-on-read", "copy-on-write")

  private def modes(nullify: Seq[String] = pii): Seq[ErasePii.Mode] =
    Seq(ErasePii.DeleteRow, ErasePii.NullifyColumns(nullify))

  private def rows(t: GraftTable): Seq[String] =
    t.read().collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def sketches(t: GraftTable): Map[String, (Int, Seq[Long])] =
    t.meta.columnNdv.map { case (c, s) => c -> (s.k, s.hashes) }

  /** The one-pass erase and the reference, each on its own copy of the
    * scenario's table, leave equal rows and equal NDV sketches, in
    * every layout and mode. */
  private def matchesReference(s: Scenario): Unit =
    for (layout <- layouts; mode <- modes(s.nullify)) {
      val (t, ref) = (newTable(layout), newTable(layout))
      s.build(t)
      s.build(ref)
      assert(rows(t) === rows(ref), s"$layout $mode: rows before the erase")
      ErasePii.run(t, "case_id", s.subject, mode)
      ErasePiiReference.run(ref, "case_id", s.subject, mode)
      assert(rows(t) === rows(ref), s"$layout $mode: rows")
      assert(sketches(t) === sketches(ref), s"$layout $mode: sketches")
      assert(t.meta.columnNdv.nonEmpty, s"$layout $mode: sketches kept")
    }

  test("the subject spread over several files: same rows and sketches " +
    "as the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person)))
      t.computeTableStats()
      t.append(frame(t, (10 until 20).map(person) :+ person(7)))
      t.append(frame(t, (20 until 30).map(person) :+ person(7)))
    }, "case-7"))
  }

  test("an absent subject: same rows and sketches as the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person)))
      t.append(frame(t, (10 until 20).map(person)))
      t.computeTableStats()
    }, "case-404"))
  }

  test("rows whose key is NULL survive the erase, as in the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person) ++ Seq(
        Row(null, "anon-a", "a@example.com", "key-a"),
        Row(null, "anon-b", "b@example.com", "key-b"))))
      t.computeTableStats()
    }, "case-3"))
  }

  test("a file whose only non-NULL key is the subject's keeps its NULL-key " +
    "rows, as in the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person)))
      t.append(frame(t, Seq(person(7), person(7),
        Row(null, "anon-c", "c@example.com", "key-c"))))
      t.computeTableStats()
    }, "case-7"))
  }

  test("other subjects' live position and equality deletes: same rows " +
    "and sketches as the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person)))
      t.append(frame(t, (10 until 20).map(person)))
      t.computeTableStats()
      // position deletes in either layout
      val layout = t.properties("write.delete.mode")
      t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("case_id") === "case-4")
      t.setProperties(Map("write.delete.mode" -> layout))
      t.equalityDelete(spark.createDataFrame(
        Seq(Row("case-15")).asJava, StructType.fromDDL("case_id STRING")))
      assert(t.manifestOf(t.currentSnapshot.get)
        .map(_.content).toSet === Set(0, 1, 2))
    }, "case-12"))
  }

  test("a renamed column: same rows and sketches as the reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, (0 until 10).map(person)))
      t.computeTableStats()
      t.renameColumn("first_name", "given_name")
      t.append(frame(t, (10 until 20).map(person) :+ person(2)))
    }, "case-2", nullify = Seq("given_name", "email_address")))
  }

  test("the last row of the table: same rows and sketches as the " +
    "reference") {
    matchesReference(Scenario(t => {
      t.append(frame(t, Seq(person(7))))
      t.computeTableStats()
    }, "case-7"))
  }

  /** Four data files, sketches on, and another subject's live
    * position delete. */
  private def fourFiles(layout: String): GraftTable = {
    val t = newTable(layout)
    (0 until 4).foreach(f =>
      t.append(frame(t, (f * 10 until f * 10 + 10).map(person))))
    t.computeTableStats()
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("case_id") === "case-21")
    t.setProperties(Map("write.delete.mode" -> layout))
    t
  }

  /** Names of the files `body` moves into the table's data dir. */
  private def filesCreated(t: GraftTable)(body: => Unit): Seq[String] = {
    val dataDir = t.root.resolve("data")
    val watch = dataDir.getFileSystem.newWatchService()
    try {
      dataDir.register(watch, StandardWatchEventKinds.ENTRY_CREATE)
      body
      // events reach the service asynchronously: wait briefly for each
      Iterator.continually(
        watch.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS))
        .takeWhile(_ != null)
        .flatMap { key =>
          val events = key.pollEvents().asScala.toSeq
          assert(!events.exists(_.kind == StandardWatchEventKinds.OVERFLOW))
          key.reset()
          events.map(_.context.toString)
        }.toSeq
    } finally watch.close()
  }

  test("the erase writes no delete file, commits two metadata versions " +
    "labelled as data changes, and leaves one metadata version") {
    for (layout <- layouts; mode <- modes()) {
      val t = fourFiles(layout)
      val v0 = t.version
      val created = filesCreated(t)(ErasePii.run(t, "case_id", "case-7",
        mode))
      assert(created.nonEmpty && created.forall(_.startsWith("data-")),
        s"$layout $mode: created $created")
      if (layout == "merge-on-read") { // the watch does see delete files
        val ref = fourFiles(layout)
        assert(filesCreated(ref)(ErasePiiReference.run(ref, "case_id",
          "case-7", mode)).exists(_.startsWith("delete-")), s"$mode")
      }
      assert(t.version === v0 + 2, s"$layout $mode")
      assert(t.metadataLogEntries.count() === 1L, s"$layout $mode")
      assert(Io.listRecursive(t.root.resolve("metadata"))
        .map(_.getFileName.toString)
        .filter(_.endsWith(".metadata.json")) ===
        Seq(s"v${t.version}.metadata.json"), s"$layout $mode")
      assert(t.meta.snapshots.map(_.operation) === Seq(mode match {
        case ErasePii.DeleteRow => "delete"
        case _ => "overwrite"
      }), s"$layout $mode")
      assert(t.files.filter("content IN (1,2)").count() === 0L)
    }
  }

  test("the erase runs fewer Spark jobs than the reference on a 4-file " +
    "MOR table") {
    for (mode <- modes()) {
      val (t, ref) = (fourFiles("merge-on-read"), fourFiles("merge-on-read"))
      val (_, jobs) = SparkJobs.count(spark.sparkContext)(
        ErasePii.run(t, "case_id", "case-7", mode))
      val (_, refJobs) = SparkJobs.count(spark.sparkContext)(
        ErasePiiReference.run(ref, "case_id", "case-7", mode))
      assert(jobs < refJobs, s"$mode: $jobs jobs, reference $refJobs")
      assert(rows(t) === rows(ref))
    }
  }

  test("a NullifyColumns erase of an unknown column refuses before any " +
    "commit") {
    for (layout <- layouts) {
      val t = fourFiles(layout)
      val (v0, before) = (t.version, rows(t))
      val e = intercept[IllegalArgumentException](ErasePii.run(t,
        "case_id", "case-7", ErasePii.NullifyColumns(Seq("no_such_col"))))
      assert(e.getMessage.contains("no_such_col"))
      assert(t.version === v0, layout)
      assert(rows(t) === before, layout)
    }
  }

  private def hash60(v: String): String =
    spark.range(1).select(Kmv.hash60(lit(v))).head().getLong(0).toString

  private def holdsToken(bytes: Array[Byte], token: String): Boolean =
    s"(?<![0-9])$token(?![0-9])".r
      .findFirstIn(new String(bytes, UTF_8)).nonEmpty

  test("after the erase no file under the root holds the erased values " +
    "or their sketch hashes, byte for byte") {
    val subject = Row("case-Zq7v", "Quilla-Vrex", "qv7@erase.test", "key-Zq7v")
    for (layout <- layouts; mode <- modes()) {
      val t = newTable(layout)
      t.append(frame(t, (0 until 10).map(person) :+ subject))
      t.computeTableStats()
      t.append(frame(t, (10 until 20).map(person)))
      t.delete(col("case_id") === "case-3")
      val erased = mode match {
        case ErasePii.DeleteRow => subject.toSeq.map(_.toString)
        case _ => Seq(subject.getString(1), subject.getString(2))
      }
      val hashes = erased.map(hash60)
      def files: Seq[Path] = Io.listRecursive(t.root)
      def values(p: Path): Seq[String] =
        spark.read.parquet(p.toString).collect().toSeq
          .flatMap(_.toSeq).filter(_ != null).map(_.toString)
      val parquet = (p: Path) => p.toString.endsWith(".parquet")
      // the checks are not vacuous: before the erase the values sit in
      // data files and their hashes in the metadata
      assert(files.filter(parquet).exists(p => values(p).exists(erased.toSet)))
      assert(files.exists(p => hashes.exists(h =>
        holdsToken(Files.readAllBytes(p), h))))
      ErasePii.run(t, "case_id", subject.getString(0), mode)
      for (p <- files) {
        val bytes = Files.readAllBytes(p)
        val text = new String(bytes, UTF_8)
        assert(!erased.exists(text.contains), s"$layout $mode: plaintext in $p")
        assert(!hashes.exists(holdsToken(bytes, _)),
          s"$layout $mode: a sketch hash in $p")
        if (parquet(p))
          assert(!values(p).exists(erased.toSet),
            s"$layout $mode: an erased value decodes from $p")
      }
    }
  }

  private def dataPaths(t: GraftTable): Set[String] =
    t.manifestOf(t.currentSnapshot.get).filter(_.content == 0)
      .map(_.path).toSet

  /** Every file under the root, decoded when parquet, is free of
    * `values` and of their sketch hashes. */
  private def assertScrubbed(t: GraftTable, values: Seq[String],
      clue: String): Unit = {
    val hashes = values.map(hash60)
    for (p <- Io.listRecursive(t.root)) {
      val bytes = Files.readAllBytes(p)
      val text = new String(bytes, UTF_8)
      assert(!values.exists(text.contains), s"$clue: plaintext in $p")
      assert(!hashes.exists(holdsToken(bytes, _)), s"$clue: a hash in $p")
      if (p.toString.endsWith(".parquet"))
        assert(!spark.read.parquet(p.toString).collect().toSeq
          .flatMap(_.toSeq).filter(_ != null).map(_.toString)
          .exists(values.toSet), s"$clue: a value decodes from $p")
    }
  }

  /** Four data files of 100 rows (not tiny), sketches on. */
  private def fourHundreds(layout: String): GraftTable = {
    val t = newTable(layout)
    (0 until 4).foreach(f =>
      t.append(frame(t, (f * 100 until f * 100 + 100).map(person))))
    t.computeTableStats()
    t
  }

  test("a subject in one of four files: only that file is rewritten, " +
    "the other three entries keep their paths") {
    for (layout <- layouts; mode <- modes()) {
      val t = fourHundreds(layout)
      val before = dataPaths(t)
      ErasePii.run(t, "case_id", "case-150", mode)
      val after = dataPaths(t)
      assert((before intersect after).size === 3, s"$layout $mode")
      assert(after.size === 4, s"$layout $mode")
      assert(!rows(t).exists(r => r.startsWith("case-150|name-150")),
        s"$layout $mode")
    }
  }

  test("tiny files ride along into the erase's output; a lone tiny file " +
    "is not rewritten on its own") {
    for (layout <- layouts; mode <- modes()) {
      val t = fourHundreds(layout)
      (400 until 405).foreach(i => t.append(frame(t, Seq(person(i)))))
      val big = dataPaths(t).filter(p =>
        t.manifestOf(t.currentSnapshot.get).exists(e =>
          e.path == p && e.recordCount == 100))
      ErasePii.run(t, "case_id", "case-402", mode)
      val after = dataPaths(t)
      assert(after.size === 5, s"$layout $mode: the one-row files merged")
      assert(big.subsetOf(after), s"$layout $mode: 100-row files kept")
      assert(rows(t).size === (if (mode == ErasePii.DeleteRow) 404 else 405))
    }
    for (layout <- layouts) {
      val t = fourHundreds(layout)
      t.append(frame(t, Seq(person(400))))
      t.append(frame(t, Seq(person(401))))
      val before = dataPaths(t)
      ErasePii.run(t, "case_id", "case-400", ErasePii.DeleteRow)
      assert(dataPaths(t).size === 5, layout)
      assert(dataPaths(t).subsetOf(before), s"$layout: nothing rewritten")
    }
  }

  test("on a table without deletes the erase runs at most two Spark " +
    "jobs: the probe and the write") {
    for (layout <- layouts; mode <- modes()) {
      val t = newTable(layout)
      (0 until 4).foreach(f =>
        t.append(frame(t, (f * 10 until f * 10 + 10).map(person))))
      t.computeTableStats()
      val (_, jobs) = SparkJobs.count(spark.sparkContext)(
        ErasePii.run(t, "case_id", "case-7", mode))
      assert(jobs <= 2, s"$layout $mode: $jobs jobs")
    }
  }

  test("a DeleteRow whose files hold only the subject, proven by their " +
    "stats, runs no Spark job and reads no file") {
    val subject = Row("zz-subject", "Zed", "zed@erase.test", "key-zz")
    for (layout <- layouts) {
      val t = newTable(layout)
      t.append(frame(t, (0 until 10).map(person)))
      t.append(frame(t, Seq(subject)))
      t.append(frame(t, Seq(subject)))
      t.computeTableStats()
      val (_, jobs) = SparkJobs.count(spark.sparkContext)(
        ErasePii.run(t, "case_id", "zz-subject", ErasePii.DeleteRow))
      assert(jobs === 0, layout)
      assert(rows(t) === (0 until 10).map(person)
        .map(_.toSeq.mkString("|")).sorted, layout)
      assert(t.manifestOf(t.currentSnapshot.get).size === 1, layout)
      assertScrubbed(t, subject.toSeq.map(_.toString), layout)
    }
  }

  test("a live position delete on another file: that file is rewritten " +
    "too, and no delete file remains") {
    for (layout <- layouts; mode <- modes()) {
      val t = fourHundreds(layout)
      val before = dataPaths(t)
      t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("case_id") === "case-221")
      t.setProperties(Map("write.delete.mode" -> layout))
      ErasePii.run(t, "case_id", "case-7", mode)
      val entries = t.manifestOf(t.currentSnapshot.get)
      assert(entries.forall(_.content == 0), s"$layout $mode")
      // files 0 (the subject) and 2 (the delete) rewritten, 1 and 3 kept
      assert((before intersect dataPaths(t)).size === 2, s"$layout $mode")
      assert(!rows(t).exists(_.startsWith("case-221|")), s"$layout $mode")
      assert(rows(t).size === (if (mode == ErasePii.DeleteRow) 398 else 399))
      assert(!t.statsTable.collect().exists(_.getBoolean(5)),
        s"$layout $mode: the refolded sketch is fresh")
    }
  }

  test("a subject a MOR delete already hid is still erased from its " +
    "file's bytes") {
    val subject = Row("case-Hd9k", "Hidda-Krel", "hk9@erase.test", "key-Hd9k")
    for (mode <- modes()) {
      val t = newTable("merge-on-read")
      t.append(frame(t, (0 until 100).map(person) :+ subject))
      t.append(frame(t, (100 until 200).map(person)))
      t.computeTableStats()
      t.delete(col("case_id") === "case-Hd9k")
      val before = dataPaths(t)
      ErasePii.run(t, "case_id", "case-Hd9k", mode)
      assert((before intersect dataPaths(t)).size === 1, s"$mode")
      assert(rows(t).size === 200, s"$mode")
      assertScrubbed(t, subject.toSeq.map(_.toString), s"$mode")
    }
  }

  test("an erase that leaves no data file: reads are empty and the " +
    "sketches refold to empty") {
    for (layout <- layouts) {
      val t = newTable(layout)
      t.append(frame(t, Seq(person(7))))
      t.append(frame(t, Seq(person(7), person(7))))
      t.computeTableStats()
      ErasePii.run(t, "case_id", "case-7", ErasePii.DeleteRow)
      assert(t.read().count() === 0L, layout)
      assert(t.manifestOf(t.currentSnapshot.get).isEmpty, layout)
      assert(t.meta.columnNdv.nonEmpty, layout)
      assert(t.meta.columnNdv.values.forall(_.hashes.isEmpty), layout)
      assert(!t.statsTable.collect().exists(_.getBoolean(5)), layout)
      assertScrubbed(t, person(7).toSeq.map(_.toString), layout)
    }
  }

  private def refState(t: GraftTable) =
    (t.version, rows(t), t.refs, t.readRef("audit").collect().length)

  test("a tag or branch whose snapshot holds the subject makes the erase " +
    "refuse before any commit, naming the ref") {
    for (kind <- Seq("tag", "branch")) {
      val t = newTable("merge-on-read")
      t.append(frame(t, (0 until 10).map(person)))
      if (kind == "tag") t.createTag("audit") else t.createBranch("audit")
      t.append(frame(t, (10 until 20).map(person)))
      val before = refState(t)
      val e = intercept[IllegalArgumentException](
        ErasePii.run(t, "case_id", "case-7", ErasePii.DeleteRow))
      assert(e.getMessage.contains("audit"), kind)
      assert(!e.getMessage.contains("case-7"), kind)
      assert(refState(t) === before, kind)
    }
  }

  test("a ref lapsed under max-ref-age, or one that never held the " +
    "subject, lets the erase proceed") {
    val lapsed = newTable("merge-on-read")
    lapsed.setProperties(Map("history.expire.max-ref-age-ms" -> "0"))
    lapsed.append(frame(lapsed, (0 until 10).map(person)))
    lapsed.createTag("audit")
    Thread.sleep(5)
    ErasePii.run(lapsed, "case_id", "case-7", ErasePii.DeleteRow)
    assert(lapsed.refs.isEmpty)
    assert(rows(lapsed).size === 9)
    val clean = newTable("merge-on-read")
    clean.append(frame(clean, (0 until 10).map(person)))
    clean.createTag("audit")
    clean.append(frame(clean, Seq(person(77))))
    ErasePii.run(clean, "case_id", "case-77", ErasePii.DeleteRow)
    assert(clean.refs.keySet === Set("audit"))
    assert(rows(clean).size === 10)
    assert(clean.readRef("audit").count() === 10L)
  }

  test("a reader whose hint read came just before the erase deleted " +
    "that version re-reads the hint instead of failing") {
    val t = newTable("merge-on-read")
    t.append(frame(t, (0 until 10).map(person)))
    val stale = t.version
    ErasePii.run(t, "case_id", "case-4", ErasePii.DeleteRow)
    assert(!Files.exists(t.root.resolve(s"metadata/v$stale.metadata.json")))
    val reader = new GraftTable(spark, t.root) {
      private var hintReads = 0
      override def version: Int = {
        hintReads += 1
        if (hintReads == 1) stale else super.version
      }
    }
    assert(reader.meta === t.meta)
    assert(rows(reader) === rows(t))
  }

  test("a slow writer whose next metadata version the erase deleted " +
    "loses with a conflict instead of rolling the table back") {
    val t = newTable("merge-on-read")
    t.append(frame(t, (0 until 10).map(person)))
    t.computeTableStats()
    val v0 = t.version
    // the erase lands while the writer's append is about to publish
    // v0 + 1, a token the erase's expiry has just deleted
    var eraseFirst = true
    val slow = new CommitProvider {
      override def publishNew(target: Path, content: String): Boolean = {
        if (eraseFirst) {
          eraseFirst = false
          ErasePii.run(t, "case_id", "case-4", ErasePii.DeleteRow)
        }
        LocalCommitProvider.publishNew(target, content)
      }
      override def overwrite(target: Path, content: String): Unit =
        LocalCommitProvider.overwrite(target, content)
    }
    val writer = GraftTable.load(spark, t.root, slow)
    val late = (10 until 12).map(person)
    intercept[java.util.ConcurrentModificationException](
      writer.append(frame(t, late)))
    assert(t.version === v0 + 2)
    assert(!Files.exists(
      t.root.resolve(s"metadata/v${v0 + 1}.metadata.json")))
    val after = rows(t)
    assert(after.size === 9)
    assert(!after.exists(_.startsWith("case-4|")))
    // retried on the erased table, the append lands on top of it
    writer.append(frame(t, late))
    assert(t.version === v0 + 3)
    assert(rows(t) === (after ++ late.map(_.toSeq.mkString("|"))).sorted)
  }
}

object ErasePiiSpec {
  private val pii = Seq("first_name", "email_address")

  /** A table state before an erase: how to build it, the subject to
    * erase, and the columns a NullifyColumns erase nulls. */
  private final case class Scenario(build: GraftTable => Unit,
      subject: String, nullify: Seq[String] = pii)
}

/** The permanent erase as graft composed it before the erase became
  * one rewrite of the files holding the subject: the DML (a MOR delete
  * file or a COW rewrite, and its commit), then a rewrite-all that
  * applies it, a position-delete rewrite, a refold of the NDV sketches
  * from the rewritten files' stamps, expiry and the orphan sweep. Kept
  * as the reference model [[ErasePiiSpec]] checks the erase against. */
object ErasePiiReference {
  def run(table: GraftTable, keyColumn: String, keyValue: Any,
      mode: ErasePii.Mode): Unit = {
    table.requireGcEnabled("permanently erase PII")
    val pred = col(keyColumn) === lit(keyValue)
    mode match {
      case ErasePii.NullifyColumns(cols) =>
        table.update(pred, cols.map(_ -> lit(null)).toMap)
      case ErasePii.DeleteRow =>
        table.delete(pred)
    }
    table.rewriteDataFiles(Map("rewrite-all" -> "true"))
    table.rewritePositionDeleteFiles()
    table.refoldColumnStats()
    table.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1)
    table.removeOrphanFiles(System.currentTimeMillis() + 1, force = true)
  }
}
