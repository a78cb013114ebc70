package graft.lake

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Changelog refinement (Iceberg create_changelog_view's
  * removeCarryovers / computeUpdates): transform-level edge cases on
  * hand-built changelogs, plus the end-to-end table walk proving
  * update images + carryover cancellation and that replaying the view
  * reconstructs the table. */
class ChangelogSpec extends SparkSuite {

  private val clSchema = StructType.fromDDL(
    "k INT, v STRING, _change_type STRING, _change_ordinal INT, " +
      "_commit_snapshot_id BIGINT")

  private def cl(rows: (Integer, String, String, Int)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (k, v, t, ord) =>
        Row(k, v, t, ord, 100L + ord) }.asJava, clSchema)

  private def collected(df: DataFrame): Seq[(Option[Int], String, String, Int)] =
    df.collect().toSeq.map(r => (
      if (r.isNullAt(0)) None else Some(r.getInt(0)),
      r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._4, t._3, t._1.getOrElse(-1), t._2))

  test("removeCarryovers cancels identical delete+insert pairs BY " +
    "MULTIPLICITY: a duplicated row deleted once keeps one net delete") {
    val raw = cl(
      // ordinal 0: carried row (1, a) appears delete+insert -> cancels
      (1, "a", "delete", 0), (1, "a", "insert", 0),
      // real change survives
      (2, "b", "insert", 0),
      // ordinal 1: row (3, c) existed TWICE; rewrite deletes both,
      // re-inserts one -> net exactly one delete
      (3, "c", "delete", 1), (3, "c", "delete", 1), (3, "c", "insert", 1))
    assert(collected(Changelog.removeCarryovers(raw)) === Seq(
      (Some(2), "b", "insert", 0),
      (Some(3), "c", "delete", 1)))
  }

  test("removeNetCarryovers nets by content across the WHOLE window: " +
    "insert-then-delete vanishes, updates keep only the final image, " +
    "survivors carry their latest change's metadata") {
    val raw = cl(
      // row (1, a) inserted in w0, deleted in w2 -> vanishes
      (1, "a", "insert", 0), (1, "a", "delete", 2),
      // row (2, b) inserted in w0, updated twice: b->b2 (w1), b2->b3
      // (w2); intermediate images net out, final insert survives
      (2, "b", "insert", 0),
      (2, "b", "delete", 1), (2, "b2", "insert", 1),
      (2, "b2", "delete", 2), (2, "b3", "insert", 2),
      // pre-window row deleted in w1 -> stays a delete
      (3, "c", "delete", 1),
      // duplicated content: two inserts, one delete -> one net insert
      (4, "d", "insert", 0), (4, "d", "insert", 0), (4, "d", "delete", 1))
    assert(collected(Changelog.removeNetCarryovers(raw)) === Seq(
      (Some(2), "b3", "insert", 2),
      (Some(3), "c", "delete", 1),
      (Some(4), "d", "insert", 1)).sortBy(t =>
      (t._4, t._3, t._1.getOrElse(-1), t._2)))
    // survivor metadata = the LATEST change of that content: (4, d)
    // last changed at ordinal 1 (the delete), so snapshot 101
    val d = Changelog.removeNetCarryovers(raw)
      .filter(col("k") === 4).collect()
    assert(d.map(r => (r.getInt(3), r.getLong(4))).toSeq ===
      Seq((1, 101L)))
  }

  test("changelogView(netChanges) refuses identifier columns, " +
    "matching Iceberg's net_changes/compute_updates exclusion") {
    val sch = StructType.fromDDL("k INT, v STRING")
    val cat = new GraftCatalog(spark, graft.ScratchDirs.create("graft-wh-"))
    cat.createNamespace("default")
    val t = cat.createTable("default", "x", sch, Map.empty)
    t.append(spark.createDataFrame(Seq(Row(1, "a")).asJava, sch))
    intercept[IllegalArgumentException](
      t.changelogView(Seq("k"), netChanges = true))
  }

  test("computeUpdates pairs same-key delete+insert within a window; " +
    "unpaired rows keep their type; windows never mix") {
    val raw = cl(
      // ordinal 0: key 1 changes value -> update pair
      (1, "old", "delete", 0), (1, "new", "insert", 0),
      // unpaired delete and unpaired insert keep their types
      (2, "gone", "delete", 0), (3, "born", "insert", 0),
      // ordinal 1: key 2 re-inserted — a DIFFERENT window, no pairing
      (2, "back", "insert", 1))
    assert(collected(Changelog.computeUpdates(raw, Seq("k"))) === Seq(
      (Some(1), "new", "update_after", 0),
      (Some(1), "old", "update_before", 0),
      (Some(2), "gone", "delete", 0),
      (Some(3), "born", "insert", 0),
      (Some(2), "back", "insert", 1)).sortBy(t =>
      (t._4, t._3, t._1.getOrElse(-1), t._2)))
    // the pair really is before+after, not insert+update_before: check
    // the exact type multiset of window 0
    val types = Changelog.computeUpdates(raw, Seq("k"))
      .filter(col("_change_ordinal") === 0)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types === Map("update_before" -> 1L, "update_after" -> 1L,
      "delete" -> 1L, "insert" -> 1L))
  }

  test("computeUpdates: NULL identifier values pair like any other " +
    "value (null-safe grouping)") {
    val raw = cl(
      (null, "old", "delete", 0), (null, "new", "insert", 0))
    assert(collected(Changelog.computeUpdates(raw, Seq("k"))) === Seq(
      (None, "new", "update_after", 0),
      (None, "old", "update_before", 0)))
  }

  test("computeUpdates: duplicated identifiers pair by deterministic " +
    "rank; the odd one out stays a delete") {
    val raw = cl(
      (1, "a1", "delete", 0), (1, "a2", "delete", 0),
      (1, "b1", "insert", 0))
    val out = collected(Changelog.computeUpdates(raw, Seq("k")))
    // one pair + one surviving delete; ranks order by full content so
    // "a1" (first by content) pairs with "b1"
    assert(out.count(_._3 == "update_before") === 1)
    assert(out.count(_._3 == "update_after") === 1)
    assert(out.count(_._3 == "delete") === 1)
    assert(out.find(_._3 == "update_before").get._2 === "a1")
    assert(out.find(_._3 == "delete").get._2 === "a2")
  }

  test("computeUpdates refuses unknown/empty identifier columns") {
    val raw = cl((1, "a", "insert", 0))
    intercept[IllegalArgumentException](
      Changelog.computeUpdates(raw, Nil))
    intercept[IllegalArgumentException](
      Changelog.computeUpdates(raw, Seq("nope")))
  }

  test("end-to-end: COW update surfaces as update images, carryovers " +
    "cancel, and replaying the view reconstructs the table") {
    val piiSchema = StructType.fromDDL(
      "case_id STRING, first_name STRING, email_address STRING, " +
        "key_nm STRING, secure_txt STRING, secure_key STRING, " +
        "update_date DATE")
    val cat = new GraftCatalog(spark, graft.ScratchDirs.create("graft-wh-"))
    cat.createNamespace("default")
    val t = cat.createTable("default", "pii", piiSchema,
      Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "copy-on-write"))
    t.append(spark.createDataFrame(Seq(
      Row("c1", "John", "j@x.com", "k1", "s1", "sk1",
        java.sql.Date.valueOf("2023-01-01")),
      Row("c2", "Jane", "ja@x.com", "k2", "s2", "sk2",
        java.sql.Date.valueOf("2023-01-02")),
      Row("c3", "Alice", "a@x.com", "k3", "s3", "sk3",
        java.sql.Date.valueOf("2023-01-03"))).asJava, piiSchema))
    t.delete(col("case_id") === "c2")
    t.update(col("case_id") === "c1",
      Map("email_address" -> lit(null)))
    val view = t.changelogView(Seq("case_id"))
    // no carryovers: c3 appears exactly once (its seed insert)
    assert(view.filter(col("case_id") === "c3").count() === 1)
    val pair = view.filter(col("_change_type").startsWith("update"))
      .select("case_id", "_change_type", "email_address").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).sortBy(_._2)
    assert(pair.toSeq === Seq(
      ("c1", "update_after", None),
      ("c1", "update_before", Some("j@x.com"))))
    // replay: final state = inserts+update_after images minus
    // deletes+update_before images, keyed by identifier
    val applied = view
      .withColumn("__w", when(col("_change_type").isin(
        "insert", "update_after"), 1).otherwise(-1))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("case_id")
          .orderBy(col("_change_ordinal").desc, col("__w").desc)))
      .filter(col("__rn") === 1 && col("__w") === 1)
      .select(piiSchema.fieldNames.map(col): _*)
    val want = t.read().orderBy("case_id").collect().toSeq
    assert(applied.orderBy("case_id").collect().toSeq === want)
  }

  test("end-to-end netChanges: the view IS the final state delta — " +
    "a row inserted then deleted inside the window vanishes; an " +
    "updated row surfaces once with its final image") {
    val sch = StructType.fromDDL("case_id STRING, v STRING")
    val cat = new GraftCatalog(spark, graft.ScratchDirs.create("graft-wh-"))
    cat.createNamespace("default")
    val t = cat.createTable("default", "t", sch,
      Map("write.update.mode" -> "copy-on-write",
        "write.delete.mode" -> "copy-on-write"))
    t.append(spark.createDataFrame(Seq(
      Row("a", "1"), Row("b", "2"), Row("c", "3")).asJava, sch))
    t.update(col("case_id") === "a", Map("v" -> lit("9")))
    t.delete(col("case_id") === "b")
    val net = t.changelogView(netChanges = true)
    val got = net.select("case_id", "v", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    // b: inserted w0, deleted w2 -> gone entirely; a: only the final
    // image; c: untouched seed insert (carried pairs netted out)
    assert(got === Seq(("a", "9", "insert"), ("c", "3", "insert")))
    // the net inserts exactly reproduce the current table
    assert(net.filter(col("_change_type") === "insert")
      .select("case_id", "v").orderBy("case_id").collect().toSeq ===
      t.read().orderBy("case_id").collect().toSeq)
  }

  test("changelogView with no identifiers = net changes only " +
    "(carryovers gone, no update pairing)") {
    val piiSchema = StructType.fromDDL("case_id STRING, v STRING")
    val cat = new GraftCatalog(spark, graft.ScratchDirs.create("graft-wh-"))
    cat.createNamespace("default")
    val t = cat.createTable("default", "t", piiSchema,
      Map("write.update.mode" -> "copy-on-write"))
    t.append(spark.createDataFrame(Seq(
      Row("a", "1"), Row("b", "2")).asJava, piiSchema))
    t.update(col("case_id") === "a", Map("v" -> lit("9")))
    val net = t.changelogView()
    // b's carried pair cancelled; a surfaces as delete+insert (no
    // pairing without identifiers)
    assert(net.filter(col("case_id") === "b").count() === 1)
    // a: seed insert (window 0) + delete/insert change pair (window 1)
    // — carryover removal is PER WINDOW, cross-window rows never cancel
    val aTypes = net.filter(col("case_id") === "a")
      .select("_change_type").collect().map(_.getString(0)).sorted
    assert(aTypes.toSeq === Seq("delete", "insert", "insert"))
  }

  test("equality deletes on a composite key and on an INT key widened " +
    "after its key file was written emit exactly parent EXCEPT ALL " +
    "child; a row delta's own rows emit only as inserts") {
    val sch = StructType.fromDDL("k INT, v STRING, n INT")
    val t = GraftTable.create(spark,
      graft.ScratchDirs.create("graft-cl-eq-").resolve("t"), "default.t",
      sch, Map("write.delete.mode" -> "merge-on-read"))
    def frame(ddl: String, rows: Row*): DataFrame =
      spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))
    def at(df: DataFrame): DataFrame =
      df.select(t.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    def slice(s: SnapshotMeta, tpe: String): DataFrame = at(
      t.changes(s.parentId, Some(s.snapshotId))
        .filter(col("_change_type") === tpe))
    def assertSame(got: DataFrame, want: DataFrame): Unit = {
      assert(got.count() === want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    def assertDeletes(s: SnapshotMeta, n: Long): Unit = {
      val want = at(t.readAt(s.parentId.get))
        .exceptAll(at(t.readAt(s.snapshotId)))
      assert(want.count() === n)
      assertSame(slice(s, "delete"), want)
    }
    t.append(frame("k INT, v STRING, n INT", Row(1, "a", 10),
      Row(2, "a", 20), Row(2, "a", 20), Row(3, "b", null), Row(4, "b", 40),
      Row(-5, "c", 50)))
    val pair = t.equalityDelete(frame("v STRING, n INT", Row("a", 20),
      Row("b", null), Row("b", 40), Row("a", 99))).get
    assertDeletes(pair, 3) // both copies of (2, a, 20), and (4, b, 40)
    val ints = t.equalityDelete(frame("k INT", Row(-5), Row(1))).get
    t.widenColumn("k", LongType)
    assertDeletes(ints, 2)
    val delta = t.rowDelta(frame("k BIGINT", Row(3L)),
      frame("k BIGINT, v STRING, n INT", Row(3L, "new", 33)))
    assertDeletes(delta, 1) // the old (3, b, NULL) only
    assertSame(slice(delta, "insert"),
      at(frame("k BIGINT, v STRING, n INT", Row(3L, "new", 33))))
    assert(t.read().count() === 1)
  }
}
