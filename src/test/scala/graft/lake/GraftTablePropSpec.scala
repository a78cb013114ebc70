package graft.lake

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** SURVEY.md §5 lifecycle properties, model-based: random
  * insert/delete/update/maintenance sequences are applied in parallel
  * to a GraftTable and to an in-memory model; after EVERY op the
  * table's read() must equal the model, maintenance ops must be
  * read-invisible, and retained snapshots must replay exactly while
  * expired ones must refuse.
  */
class GraftTablePropSpec extends SparkSuite {

  private val schema = StructType.fromDDL(
    "case_id STRING, first_name STRING, update_date DATE")

  private case class M(caseId: String, firstName: Option[String])

  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class ClusteredAppend(n: Int) extends Op
  private case class MorDelete(pick: Int) extends Op
  private case class EqDelete(pick: Int) extends Op
  private case class PairEqDelete(pick: Int) extends Op
  private case class CowNullify(pick: Int) extends Op
  private case object Rewrite extends Op
  private case object RewriteDeletes extends Op
  private case object Expire extends Op
  private case object RenameFlip extends Op
  private case object Orphans extends Op
  private case class BranchCycle(pick: Int, n: Int,
      publish: Boolean) extends Op
  private case class Overwrite(n: Int) extends Op
  private case object Analyze extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 4).map(Append),
    1 -> Gen.choose(2, 5).map(ClusteredAppend),
    3 -> Gen.choose(0, 7).map(MorDelete),
    1 -> Gen.choose(0, 7).map(EqDelete),
    3 -> Gen.choose(0, 7).map(PairEqDelete),
    2 -> Gen.choose(0, 7).map(CowNullify),
    1 -> Gen.const(Rewrite),
    1 -> Gen.const(RewriteDeletes),
    1 -> Gen.const(Expire),
    1 -> Gen.const(RenameFlip),
    1 -> Gen.const(Orphans),
    1 -> Gen.zip(Gen.choose(0, 7), Gen.choose(1, 3),
      Gen.oneOf(true, false)).map { case (p, n, pub) =>
        BranchCycle(p, n, pub) },
    1 -> Gen.choose(1, 3).map(Overwrite),
    1 -> Gen.const(Analyze))

  // composite-key deletes that masked a row, over the whole property
  private var pairMasks = 0

  // every sequence starts from three rows, so its first DML ops act
  // on rows instead of skipping on an empty table
  private val genOps: Gen[List[Op]] =
    Gen.choose(4, 8).flatMap(n => Gen.listOfN(n, genOp)).map(Append(3) :: _)

  /** Sequences run against every combination of delete/update write
    * modes, so COW and MOR paths both face the same random workloads. */
  private val genModes: Gen[Map[String, String]] = for {
    del <- Gen.oneOf("merge-on-read", "copy-on-write")
    upd <- Gen.oneOf("merge-on-read", "copy-on-write")
  } yield Map("write.delete.mode" -> del, "write.update.mode" -> upd)

  private def runSequence(modes: Map[String, String], ops: List[Op]): Boolean = {
    val wh = graft.ScratchDirs.create("graft-prop-")
    val cat = new GraftCatalog(spark, wh)
    cat.createNamespace("default")
    val t = cat.createTable("default", "prop_t", schema, modes)
    var model = Vector.empty[M]
    var nextId = 0
    // the name column flips between two logical names via RENAME
    // COLUMN; reads are positional so the model never needs the name
    var fnName = "first_name"
    def curSchema = StructType.fromDDL(
      s"case_id STRING, $fnName STRING, update_date DATE")
    // retained snapshot contents for replay checks
    var snapContents = Map.empty[Long, Set[(String, Option[String])]]
    var expired = Set.empty[Long]

    def tableRows(): Set[(String, Option[String])] =
      t.read().collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet

    def modelRows: Set[(String, Option[String])] =
      model.map(m => (m.caseId, m.firstName)).toSet

    def snap(): Unit = t.currentSnapshot.foreach { s =>
      snapContents += (s.snapshotId -> modelRows)
    }

    def targets(pick: Int): Seq[String] = {
      val ids = model.map(_.caseId).distinct.sorted
      if (ids.isEmpty) Nil
      else ids.zipWithIndex.collect { case (id, i) if i % 3 == pick % 3 => id }
    }

    def freshRows(n: Int): Seq[Row] = (0 until n).map { _ =>
      val id = s"case-$nextId"; nextId += 1
      Row(id, s"name-$id", java.sql.Date.valueOf("2023-01-01"))
    }

    ops.foreach {
      case Append(n) =>
        val rows = freshRows(n)
        t.append(spark.createDataFrame(rows.asJava, curSchema))
        model ++= rows.map(r => M(r.getString(0), Some(r.getString(1))))
        snap()
      case ClusteredAppend(n) =>
        val rows = freshRows(n)
        t.appendClustered(spark.createDataFrame(rows.asJava, curSchema),
          Seq("case_id"), nFiles = 2)
        model ++= rows.map(r => M(r.getString(0), Some(r.getString(1))))
        snap()
      case EqDelete(pick) =>
        val ids = targets(pick)
        if (ids.nonEmpty) {
          t.equalityDelete(spark.createDataFrame(
            ids.map(Row(_)).asJava,
            org.apache.spark.sql.types.StructType.fromDDL("case_id STRING")))
          model = model.filterNot(m => ids.contains(m.caseId))
          snap()
        }
      case PairEqDelete(pick) =>
        // (case_id, first_name) tuples naming the row's own name, a
        // wrong name or NULL: only an exact non-NULL pair masks, so a
        // row CowNullify blanked is never matched
        val pairs = targets(pick).zipWithIndex.map { case (id, i) =>
          id -> Seq(s"name-$id", null, "other")(i % 3) }
        if (pairs.nonEmpty) {
          t.equalityDelete(spark.createDataFrame(
            pairs.map { case (id, n) => Row(id, n) }.asJava,
            StructType.fromDDL(s"case_id STRING, $fnName STRING")))
          val kept = model.filterNot(m => pairs.exists { case (id, n) =>
            m.caseId == id && n != null && m.firstName.contains(n) })
          if (kept.size < model.size) pairMasks += 1
          model = kept
          snap()
        }
      case MorDelete(pick) =>
        val ids = targets(pick)
        if (ids.nonEmpty) {
          t.delete(col("case_id").isin(ids: _*))
          model = model.filterNot(m => ids.contains(m.caseId))
          snap()
        }
      case CowNullify(pick) =>
        val ids = targets(pick)
        if (ids.nonEmpty) {
          t.update(col("case_id").isin(ids: _*),
            Map(fnName -> lit(null).cast("string")))
          model = model.map(m =>
            if (ids.contains(m.caseId)) m.copy(firstName = None) else m)
          snap()
        }
      case Rewrite =>
        t.rewriteDataFiles()
        snap()
      case RewriteDeletes =>
        t.rewritePositionDeleteFiles()
        snap()
      case Expire =>
        val gone = t.expireSnapshots(System.currentTimeMillis() + 1000)
        expired ++= gone
        snapContents --= gone
      case Orphans =>
        t.removeOrphanFiles(System.currentTimeMillis() + 1000, force = true)
      case RenameFlip =>
        // metadata-only: no rows change, no snapshot commits; all
        // later DML and every snapshot replay must keep working
        val to = if (fnName == "first_name") "fn_alt" else "first_name"
        t.renameColumn(fnName, to)
        fnName = to
      case Overwrite(n) =>
        val rows = freshRows(n)
        t.overwriteAll(spark.createDataFrame(rows.asJava, curSchema))
        model = rows.map(r => M(r.getString(0), Some(r.getString(1))))
          .toVector
        snap()
      case Analyze =>
        // the per-file ANALYZE needs a delete-free head: compact the
        // delete files away first, then the ANALYZE restamps every data
        // entry with its file's sketch in a data-neutral `replace`
        // commit
        if (t.currentSnapshot.exists(
            t.manifestOf(_).exists(_.content != 0)))
          t.rewriteDataFiles()
        t.computeTableStats(Seq(fnName))
        snap()
      case BranchCycle(pick, n, publish) =>
        // stage append + delete on a branch; main must not move until
        // (and unless) the branch is published via fastForward
        if (t.currentSnapshot.nonEmpty) {
          val br = s"stage-$nextId"
          t.createBranch(br)
          val rows = freshRows(n)
          t.appendToBranch(br,
            spark.createDataFrame(rows.asJava, curSchema))
          val ids = targets(pick)
          if (ids.nonEmpty)
            t.deleteOnBranch(br, col("case_id").isin(ids: _*))
          assert(tableRows() == modelRows,
            s"branch staging must not touch main ($ops)")
          if (publish) {
            t.fastForward("main", t.refSnapshotId(br))
            model = model.filterNot(m => ids.contains(m.caseId)) ++
              rows.map(r => M(r.getString(0), Some(r.getString(1))))
            snap()
          }
          t.dropRef(br)
        }
    }

    // 1. current read always equals the model
    assert(tableRows() == modelRows,
      s"current read diverged from model after $ops")
    // 2. maintenance is read-invisible: compact + drop delete files,
    //    still equal
    t.rewriteDataFiles()
    t.rewritePositionDeleteFiles()
    assert(tableRows() == modelRows, s"rewrite changed visible rows: $ops")
    // 3. retained snapshots replay their recorded contents
    snapContents.foreach { case (id, want) =>
      if (!expired.contains(id)) {
        val got = t.readAt(id).collect()
          .map(r => (r.getString(0), Option(r.getString(1)))).toSet
        assert(got == want, s"snapshot $id replay mismatch: $ops")
      }
    }
    // 4. expired snapshots refuse time travel
    expired.foreach { id =>
      intercept[Exception](t.readAt(id).collect())
    }
    // 5. the changelog is a COMPLETE account of the table: the signed
    //    fold of changes() (insert +1 / delete −1 per row content)
    //    nets to exactly the live rows — carried COW pairs cancel,
    //    compactions contribute nothing, unpublished branch commits
    //    never leak in. Only checkable while no history expired (the
    //    changelog needs the full lineage).
    if (expired.isEmpty && t.currentSnapshot.nonEmpty) {
      val fnCol = t.schema.fieldNames
        .find(n => n != "case_id" && n != "update_date").get
      val w = when(col("_change_type") === "insert", 1).otherwise(-1)
      val folded = t.changes()
        .groupBy(col("case_id"), col(fnCol))
        .agg(sum(w).as("net")).filter(col("net") > 0)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(folded == modelRows,
        s"changelog fold diverged from the table after $ops")
    }
    // 6. O(delta) manifest discipline never silently degrades: for
    //    every retained parent→child commit, a parent segment whose
    //    entries ALL survive unchanged in the child manifest must be
    //    referenced VERBATIM (same file) by the child's list — a
    //    commit that rewrote a segment it did not touch fails here
    val byId2 = t.meta.snapshots.map(s => s.snapshotId -> s).toMap
    t.meta.snapshots.foreach { s =>
      s.parentId.flatMap(byId2.get).foreach { p =>
        val childEntries = t.manifestOf(s).toSet
        val childSegs = t.segmentsOf(s).map(_.path).toSet
        t.segmentsOf(p).foreach { ref =>
          val segEntries = Json.readManifest(
            Files.readString(t.root.resolve(ref.path)))
          if (segEntries.forall(childEntries.contains))
            assert(childSegs.contains(ref.path),
              s"fully-surviving parent segment ${ref.path} was " +
                s"rewritten instead of reused (commit " +
                s"${p.snapshotId}→${s.snapshotId}) after $ops")
        }
      }
    }
    // 7. every retained snapshot's summary totals equal the counts
    //    over its manifest as a fresh handle (empty caches) reads it
    val fresh = GraftTable.load(spark, t.root)
    fresh.meta.snapshots.foreach { s =>
      val es = fresh.manifestOf(s)
      val data = es.filter(_.content == 0)
      val want = Map(
        "total-records" -> data.map(_.recordCount).sum.toString,
        "total-data-files" -> data.size.toString,
        "total-delete-files" -> (es.size - data.size).toString)
      assert(want.forall { case (k, v) => s.summary.get(k).contains(v) },
        s"snapshot ${s.snapshotId} summary ${s.summary} disagrees with " +
          s"its manifest $want after $ops")
    }
    true
  }

  test("∀ random lifecycle sequences x write modes: read==model, " +
    "maintenance read-invisible, snapshots replay, expired refuse " +
    "(SURVEY §5)") {
    val prop = Prop.forAll(genModes, genOps)(runSequence)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(Seed(42L))
      .withWorkers(1)
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
    assert(pairMasks > 0, "no composite-key delete masked a row")
  }

  /** retain-last-only expiry (README.md:88-93's companion form): after
    * `expireSnapshots(retainLast = n)` exactly min(n, k) of k snapshots
    * remain — the newest ones — each still time-travels to its exact
    * contents, and every expired id refuses. */
  test("∀ (k appends, n): expireSnapshots(retainLast = n) keeps exactly " +
    "the newest min(n, k) snapshots, all replayable") {
    val prop = Prop.forAll(Gen.choose(2, 8), Gen.choose(1, 9)) { (k, n) =>
      val wh = graft.ScratchDirs.create("graft-retain-")
      val cat = new GraftCatalog(spark, wh)
      cat.createNamespace("default")
      val t = cat.createTable("default", "retain_t", schema)
      var contents = Map.empty[Long, Set[String]]
      var ids = Vector.empty[Long]
      (0 until k).foreach { i =>
        t.append(spark.createDataFrame(
          Seq(Row(s"case-$i", s"name-$i",
            java.sql.Date.valueOf("2023-01-01"))).asJava, schema))
        val id = t.currentSnapshot.get.snapshotId
        ids :+= id
        contents += id -> (0 to i).map(j => s"case-$j").toSet
      }
      Thread.sleep(5) // commits land strictly before the "now" cutoff
      val gone = t.expireSnapshots(retainLast = n)
      val kept = t.meta.snapshots.map(_.snapshotId)
      val wantKept = ids.takeRight(math.min(n, k))
      assert(kept === wantKept,
        s"k=$k n=$n kept=$kept want=$wantKept")
      assert(gone.toSet === ids.toSet -- wantKept.toSet)
      wantKept.foreach { id =>
        val got = t.readAt(id).collect().map(_.getString(0)).toSet
        assert(got === contents(id), s"snapshot $id replay")
      }
      gone.foreach(id => intercept[Exception](t.readAt(id).collect()))
      true
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(Seed(7L))
      .withWorkers(1)
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("∀ erase walks: rollback/set_current never resurrect erased " +
    "PII — expired snapshots refuse both pointer moves, every " +
    "retained snapshot reads clean, and no surviving parquet value " +
    "carries the secret, even after post-erase rollback + re-expire") {
    val secret = "SECRET-NAME"
    val prop = Prop.forAll(Gen.choose(1, 4), Gen.oneOf(true, false),
      Gen.choose(0, 2)) { (k, nullify, extra) =>
      val wh = graft.ScratchDirs.create("graft-erase-")
      val cat = new GraftCatalog(spark, wh)
      cat.createNamespace("default")
      val t = cat.createTable("default", "erase_t", schema,
        Map("write.delete.mode" -> "merge-on-read"))
      t.append(spark.createDataFrame(Seq(
        Row("case-secret", secret,
          java.sql.Date.valueOf("2023-01-01"))).asJava, schema))
      (0 until k).foreach { i =>
        t.append(spark.createDataFrame(Seq(
          Row(s"case-$i", s"name-$i",
            java.sql.Date.valueOf("2023-01-02"))).asJava, schema))
      }
      val preEraseIds = t.meta.snapshots.map(_.snapshotId)
      Thread.sleep(5)
      ErasePii.run(t, "case_id", "case-secret",
        if (nullify) ErasePii.NullifyColumns(Seq("first_name"))
        else ErasePii.DeleteRow)
      val postEraseHead = t.currentSnapshot.get.snapshotId
      // post-erase life goes on, then an undo cycle: rollback to the
      // post-erase head and expire again — the exact sequence that
      // would resurrect the PII if rollback could reach past the erase
      (0 until extra).foreach { i =>
        t.append(spark.createDataFrame(Seq(
          Row(s"late-$i", s"late-name-$i",
            java.sql.Date.valueOf("2023-02-01"))).asJava, schema))
      }
      if (extra > 0) {
        t.rollbackTo(postEraseHead)
        Thread.sleep(5)
        t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1)
      }
      // expired pre-erase snapshots refuse both pointer moves
      preEraseIds.foreach { id =>
        intercept[Exception](t.rollbackTo(id))
        intercept[Exception](t.setCurrentSnapshot(id))
      }
      // every retained snapshot replays clean
      t.meta.snapshots.foreach { sn =>
        val rows = t.readAt(sn.snapshotId).collect()
        assert(!rows.exists(_.toSeq.exists(_ == secret)),
          s"snapshot ${sn.snapshotId} still carries the erased value")
        if (!nullify)
          assert(!rows.exists(_.getString(0) == "case-secret"),
            s"snapshot ${sn.snapshotId} resurrected the erased row")
      }
      // no byte of any surviving parquet file carries the secret:
      // the orphan sweep must have physically removed pre-erase files
      val parquets = Files.walk(wh).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      parquets.foreach { p =>
        val vals = spark.read.parquet(p.toString).collect()
          .flatMap(_.toSeq).map(String.valueOf)
        assert(!vals.contains(secret),
          s"surviving file $p still carries the erased value")
      }
      true
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(Seed(11L))
      .withWorkers(1)
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
