package graft.lake

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite

/** The MOR read's delete filter ([[DeleteFilter]]) against a reference
  * model: the anti-join formulation graft applied deletes with before
  * the filter existed ([[AntiJoinDeletes]]). The scenarios straddle the
  * constants that used to choose between the inline and the join
  * forms, and cover every equality-key shape the filter carries:
  * composite, decimal, date, DOUBLE (-0.0, NaN), NULL components,
  * renamed and widened components. Every read is checked with
  * whole-stage codegen on (no interpreted fallback) and with codegen
  * off entirely. */
class DeleteFilterSpec extends SparkSuite {

  private def newTable(ddl: String, dirPrefix: String = "graft-dfspec-")
      : GraftTable = GraftTable.create(spark,
    graft.ScratchDirs.create(dirPrefix).resolve("t"), "default.t",
    StructType.fromDDL(ddl), Map("write.delete.mode" -> "merge-on-read"))

  private def assertSameRows(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    val n = want.count()
    assert(got.count() === n, what)
    assert(got.exceptAll(want).isEmpty, what)
  }

  /** `read` (a read of snapshot `s`) in both modes against the
    * reference model over the same snapshot; returns the live count. */
  private def check(t: GraftTable, s: SnapshotMeta, read: => DataFrame)
      : Long = {
    val want = AntiJoinDeletes.read(t, t.manifestOf(s),
      t.schemaAt(s.snapshotId), s.physicalNames.getOrElse(Map.empty))
    for ((mode, conf) <- SparkSuite.codegenModes) withConf(conf) {
      assertSameRows(read, want, s"$mode read of snapshot ${s.snapshotId}")
    }
    want.count()
  }

  private def check(t: GraftTable): Long =
    check(t, t.currentSnapshot.get, t.read())

  private def planOf(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def keys(ddl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** `n` rows id 0..n-1 written as `files` equal contiguous files. */
  private def ids(n: Long, files: Int): DataFrame =
    spark.range(0, n, 1, files)
      .selectExpr("id", "format_string('k-%07d', id) AS k")

  test("position deletes: 4,096 / 4,097 rows and 32 / 33 victim files") {
    val t = newTable("id BIGINT, k STRING")
    t.append(ids(10000, 4))
    t.delete(col("id") < 4096)
    assert(check(t) === 10000 - 4096)
    t.delete(col("id") === 5000) // 4,097 position rows in the read
    assert(t.manifestOf(t.currentSnapshot.get).filter(_.content == 1)
      .map(_.recordCount).sum === 4097)
    assert(check(t) === 10000 - 4097)

    val w = newTable("id BIGINT, k STRING")
    w.append(ids(3300, 33)) // file i holds ids [100i, 100i + 100)
    w.delete(col("id") % 100 === 0 && col("id") < 3200) // 32 files
    assert(check(w) === 3300 - 32)
    w.delete(col("id") === 3200) // the 33rd victim file
    assert(check(w) === 3300 - 33)
    assert(!planOf(w.read()).contains("Join"))
  }

  test("equality deletes: 64 / 65 data files, 262,144 / 262,145 rows, " +
    "and a 5,000-key set") {
    val t = newTable("id BIGINT, k STRING")
    t.append(ids(262144, 64))
    t.equalityDelete(keys("id BIGINT", Seq(Row(7L), Row(70000L))))
    assert(t.manifestOf(t.currentSnapshot.get).count(_.content == 0) === 64)
    assert(check(t) === 262144 - 2)
    // the 65th file and 262,145th row: a RE-INSERT of a deleted key,
    // which the older delete must not mask
    t.append(keys("id BIGINT, k STRING", Seq(Row(7L, "again"))))
    assert(check(t) === 262145 - 2)
    t.equalityDelete(keys("k STRING",
      (0 until 5000).map(i => Row(f"k-${i * 50}%07d"))))
    // k-0070000 (id 70,000) was already masked by the first delete
    assert(check(t) === 262145 - 2 - 4999)
    assert(!planOf(t.read()).contains("Join"))
  }

  test("%20 paths: both delete kinds mask rows under a spaced root") {
    val t = newTable("id BIGINT, k STRING", "graft df spaced ")
    assert(t.root.toString.contains(" "))
    t.append(ids(100, 2))
    t.delete(col("id") < 10)
    t.equalityDelete(keys("k STRING", Seq(Row("k-0000050"))))
    t.equalityDelete(keys("id BIGINT", Seq(Row(60L))))
    assert(check(t) === 100 - 12)
  }

  test("keys re-inserted after an equality delete stay visible; NULL " +
    "keys never match") {
    val t = newTable("id INT, k STRING")
    t.append(keys("id INT, k STRING",
      Seq(Row(1, "a"), Row(2, null), Row(null, "c"), Row(4, "d"))))
    t.equalityDelete(keys("k STRING", Seq(Row("a"), Row(null))))
    t.equalityDelete(keys("id INT", Seq(Row(4), Row(null))))
    assert(check(t) === 2) // the NULL-keyed rows survive
    t.append(keys("id INT, k STRING", Seq(Row(1, "a"), Row(4, "d"))))
    assert(check(t) === 4)
    t.equalityDelete(keys("k STRING", Seq(Row("a"))))
    assert(check(t) === 3) // the newer delete masks the re-insert
    t.delete(col("k").isNull) // position delete of a NULL-key row
    assert(check(t) === 2)
    // a row delta's own rows share its delete's sequence: visible
    t.rowDelta(keys("k STRING", Seq(Row("d"))),
      keys("id INT, k STRING", Seq(Row(5, "d"))))
    assert(check(t) === 2)
    assert(t.read().filter(col("k") === "d").collect().map(_.getInt(0))
      .toSeq === Seq(5))
  }

  test("renamed key column, readAt time travel and a branch read") {
    val t = newTable("id BIGINT, k STRING")
    t.append(ids(1000, 3))
    t.equalityDelete(keys("k STRING", Seq(Row("k-0000001"))))
    t.renameColumn("k", "key")
    val beforeRenamedDelete = t.currentSnapshot.get.snapshotId
    assert(check(t) === 999)
    // a key file written after the rename spells the PHYSICAL name
    t.equalityDelete(keys("key STRING", Seq(Row("k-0000002"))))
    t.delete(col("id") === 3)
    assert(t.read().columns.toSeq === Seq("id", "key"))
    assert(check(t) === 997)
    val old = t.snapshotOrFail(beforeRenamedDelete)
    assert(check(t, old, t.readAt(beforeRenamedDelete)) === 999)
    t.createBranch("audit")
    t.deleteOnBranch("audit", col("id") === 4)
    t.equalityDeleteOnBranch("audit",
      keys("key STRING", Seq(Row("k-0000005"))))
    assert(check(t, t.snapshotOrFail(t.refSnapshotId("audit")),
      t.readRef("audit")) === 995)
    assert(check(t) === 997) // main is untouched
  }

  test("equality delete on an INT key survives widenColumn to BIGINT on " +
    "a warm handle and a fresh load") {
    val t = newTable("id INT, k STRING")
    t.append(spark.range(1, 11).selectExpr("CAST(id AS INT) AS id",
      "CAST(id AS STRING) AS k"))
    t.equalityDelete(keys("id INT", Seq(Row(3))))
    assert(t.read().count() === 9) // warms the key-file parse
    t.widenColumn("id", LongType)
    assert(t.schema("id").dataType === LongType)
    assert(t.read().count() === 9)
    val fresh = GraftTable.load(spark, t.root)
    assert(fresh.read().count() === 9)
    assert(fresh.read().filter(col("id") === 3L).isEmpty)
    assert(check(fresh) === 9)
    // a key file written after the widen holds INT64 keys
    fresh.equalityDelete(keys("id BIGINT", Seq(Row(4L))))
    assert(check(fresh) === 8)
  }

  private def assertOneFilter(t: GraftTable): Unit = {
    val plan = planOf(t.read())
    assert(!plan.contains("Join"), plan)
    assert("graft_deleted".r.findAllIn(plan).size === 1, plan)
  }

  test("a composite equality set and single-column sets in one read: " +
    "one filter, no join") {
    val t = newTable("id BIGINT, k STRING")
    t.append(ids(100, 2))
    t.equalityDelete(keys("id BIGINT, k STRING",
      Seq(Row(1L, "k-0000001"), Row(2L, "nope"))))
    t.equalityDelete(keys("k STRING", Seq(Row("k-0000003"))))
    assert(check(t) === 98)
    assertOneFilter(t)
  }

  test("composite (string, int) key: a row is masked only when every " +
    "component matches") {
    val t = newTable("id BIGINT, k STRING, n INT")
    val rows = keys("id BIGINT, k STRING, n INT", Seq(Row(1L, "a", 1),
      Row(2L, "a", 2), Row(3L, "b", 1), Row(4L, "b", 2), Row(5L, "b", 2)))
    t.append(rows)
    t.equalityDelete(keys("k STRING, n INT",
      Seq(Row("a", 1), Row("b", 2), Row("c", 1), Row("a", 3))))
    assert(check(t) === 2)
    // re-inserted after the delete: visible again
    t.append(rows.filter(col("id") === 1))
    assert(check(t) === 3)
    // a row delta's own rows share its delete's sequence: visible, also
    // once a newer delete joins their set
    t.rowDelta(keys("k STRING, n INT", Seq(Row("b", 1))),
      keys("id BIGINT, k STRING, n INT", Seq(Row(6L, "b", 1))))
    assert(check(t) === 3)
    t.equalityDelete(keys("k STRING, n INT", Seq(Row("zz", 0))))
    assert(check(t) === 3)
    assertOneFilter(t)
  }

  test("decimal and date keys") {
    val t = newTable("id BIGINT, d DECIMAL(10,2), day DATE")
    def dec(s: String) = new java.math.BigDecimal(s)
    def day(s: String) = java.sql.Date.valueOf(s)
    t.append(keys("id BIGINT, d DECIMAL(10,2), day DATE", Seq(
      Row(1L, dec("1.50"), day("2024-01-01")),
      Row(2L, dec("-2.25"), day("2024-01-02")),
      Row(3L, dec("1.50"), day("2024-01-03")),
      Row(4L, null, day("2024-01-04")))))
    t.equalityDelete(keys("d DECIMAL(10,2)", Seq(Row(dec("1.50")))))
    assert(check(t) === 2)
    t.equalityDelete(keys("day DATE", Seq(Row(day("2024-01-02")))))
    assert(check(t) === 1)
    t.equalityDelete(keys("d DECIMAL(10,2), day DATE",
      Seq(Row(null, day("2024-01-04")))))
    assert(check(t) === 1) // a NULL component never masks
  }

  test("DOUBLE keys: -0.0 matches 0.0 and NaN matches NaN, in the data " +
    "and in the key file") {
    val t = newTable("id BIGINT, x DOUBLE")
    t.append(keys("id BIGINT, x DOUBLE", Seq(Row(1L, 0.0), Row(2L, -0.0),
      Row(3L, Double.NaN), Row(4L, 1.5))))
    t.equalityDelete(keys("x DOUBLE", Seq(Row(-0.0), Row(Double.NaN))))
    assert(check(t) === 1)
    t.append(keys("id BIGINT, x DOUBLE", Seq(Row(5L, -0.0), Row(6L, 0.0),
      Row(7L, Double.NaN))))
    assert(check(t) === 4)
    t.equalityDelete(keys("x DOUBLE", Seq(Row(0.0))))
    assert(check(t) === 2)

    // a key file spelled by another writer keeps -0.0 and NaN as
    // written (equalityDelete's distinct normalizes them first)
    val dir = graft.ScratchDirs.create("graft-dfspec-raw-")
    keys("x DOUBLE", Seq(Row(-0.0), Row(Double.NaN))).coalesce(1)
      .write.parquet(dir.resolve("k").toString)
    val file = Files.list(dir.resolve("k")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get.toString
    assert(spark.read.parquet(file).collect().map(_.getDouble(0))
      .exists(v => java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(-0.0)))
    val m = new DeleteMatcher(DeleteSet(Nil, Seq(Seq(file -> 2L)),
      Seq(Seq("x")), Map("data" -> 1L), Map.empty), Seq(Seq(DoubleType)))
    m.position(UTF8String.fromString("data"), 0L)
    def masks(v: Double) = { val r = m.row(0); r.setDouble(0, v); m.key(0, r) }
    assert(Seq(0.0, -0.0, Double.NaN).forall(masks))
    assert(!masks(1.5))
  }

  test("NULL components: a tuple with a NULL in the data or in the key " +
    "file never matches") {
    val t = newTable("id BIGINT, k STRING, n INT")
    t.append(keys("id BIGINT, k STRING, n INT", Seq(Row(1L, "a", null),
      Row(2L, null, 1), Row(3L, "a", 1), Row(4L, null, null))))
    t.equalityDelete(keys("k STRING, n INT",
      Seq(Row("a", null), Row(null, 1), Row(null, null))))
    assert(check(t) === 4)
    t.equalityDelete(keys("k STRING, n INT", Seq(Row("a", 1))))
    assert(check(t) === 3)
  }

  test("a renamed component: key files before and after the rename") {
    val t = newTable("id BIGINT, k STRING, n INT")
    t.append(spark.range(0, 20).selectExpr("id",
      "CAST(id % 4 AS STRING) AS k", "CAST(id % 5 AS INT) AS n"))
    t.equalityDelete(keys("k STRING, n INT", Seq(Row("1", 1))))
    t.renameColumn("n", "m")
    assert(t.read().columns.toSeq === Seq("id", "k", "m"))
    assert(check(t) === 19)
    // a key file written after the rename spells the PHYSICAL name
    t.equalityDelete(keys("k STRING, m INT", Seq(Row("2", 2))))
    assert(check(t) === 18)
    assertOneFilter(t)
  }

  test("INT components widened to BIGINT and to DOUBLE after their key " +
    "files were written, on a warm handle and a fresh load") {
    val t = newTable("id BIGINT, k STRING, a INT, b INT")
    t.append(spark.range(-10, 10).selectExpr("id",
      "CAST(id % 3 AS STRING) AS k", "CAST(id AS INT) AS a",
      "CAST(id * 7 AS INT) AS b"))
    t.equalityDelete(keys("k STRING, a INT", Seq(Row("-1", -7), Row("0", 3))))
    t.equalityDelete(keys("b INT", Seq(Row(14), Row(-21))))
    assert(check(t) === 16) // warms the key-file parses
    t.widenColumn("a", LongType)
    t.widenColumn("b", DoubleType)
    assert(t.schema("a").dataType === LongType)
    assert(t.schema("b").dataType === DoubleType)
    assert(check(t) === 16)
    val fresh = GraftTable.load(spark, t.root)
    assert(check(fresh) === 16)
    assert(fresh.read().filter(col("a") === -7L).isEmpty)
    // key files written after the widen hold the new types
    fresh.equalityDelete(keys("k STRING, a BIGINT", Seq(Row("1", 4L))))
    fresh.equalityDelete(keys("b DOUBLE", Seq(Row(-35.0))))
    assert(check(fresh) === 14)
  }

  test("the delete-file cache is capped in bytes: past its budget it " +
    "evicts, and reads still return the reference's rows") {
    val t = newTable("id BIGINT, k STRING")
    t.append(ids(10000, 4))
    t.delete(col("id") < 100)
    t.equalityDelete(keys("k STRING, id BIGINT",
      (0 until 3000).map(i => Row(f"k-${i * 3}%07d", i * 3L))))
    val cache = DeleteFilter.cache
    val filler = (null, cache.budget)
    for (round <- 1 to 3) {
      // a filler as large as the whole budget evicts every parse
      cache.put(("filler", round), filler)
      assert(cache.weight <= cache.budget)
      assert(check(t) === 10000 - 100 - 2966)
      // each read re-parsed, pushing the filler out in turn (the
      // weight is under budget again); 3,000 key tuples weigh their rows
      assert(cache.weight >= 3000L * 64 && cache.weight < cache.budget)
    }
  }
}

/** Reference model of the MOR read: the position-delete anti-join and
  * the sequence-attach + anti-join equality form graft's read path
  * planned before [[DeleteFilter]], for every key shape (Spark's own
  * join keys: coerced types, normalized floats, NULLs never equal).
  * Test-only, like the kernels' HOF twins: it pins what the filter
  * must return, not how. */
object AntiJoinDeletes {
  import GraftTable.{FileCol, PosCol}
  // the row's data sequence, attached by file path
  private val SeqCol = "__seq"

  def read(t: GraftTable, entries: Seq[ManifestEntry], sch: StructType,
      mapping: Map[String, String]): DataFrame = {
    val spark = t.spark
    def abs(e: ManifestEntry) = t.root.resolve(e.path).toAbsolutePath.toString
    val data = entries.filter(_.content == 0)
    var df = t.readWithLineage(data, sch, mapping)
    val pos = entries.filter(_.content == 1)
    if (pos.nonEmpty) {
      val d = spark.read.schema("file_path STRING, pos BIGINT")
        .parquet(pos.map(abs): _*)
      df = df.join(d, df(FileCol) === d("file_path") &&
        df(PosCol) === d("pos"), "left_anti")
    }
    val eq = entries.filter(_.content == 2)
    if (eq.nonEmpty) {
      val rev = mapping.map(_.swap)
      val seqDf = spark.createDataFrame(data.flatMap(e =>
        Io.uriForms(abs(e)).map(u => Row(u, e.addedSnapshotId))).asJava,
        StructType.fromDDL(s"__seq_file STRING, $SeqCol BIGINT"))
      df = df.join(seqDf, df(FileCol) === seqDf("__seq_file"), "left")
        .drop("__seq_file")
      for ((cols, files) <- eq.groupBy(_.equalityColumns)) {
        val keys = files.map(f => spark.read.parquet(abs(f))
          .select(cols.map(c => col(c).as(s"__k_$c")): _*)
          .withColumn("__k_seq", lit(f.addedSnapshotId)))
          .reduce(_ unionByName _)
          .groupBy(cols.map(c => col(s"__k_$c")): _*)
          .agg(max("__k_seq").as("__k_seq"))
        df = df.join(keys, cols.map(c =>
          df(rev.getOrElse(c, c)) === keys(s"__k_$c")).reduce(_ && _) &&
          df(SeqCol) < keys("__k_seq"), "left_anti")
      }
      df = df.drop(SeqCol)
    }
    df.drop(FileCol, PosCol)
  }
}
