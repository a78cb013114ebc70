package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkJobs, SparkSuite}
import graft.rel.Kmv

/** NDV-sketch upkeep off the Spark scheduler: every writer, the
  * driver-side one (zero Spark jobs) and the distributed one (its write
  * job only), hashes the rows as it writes them into the same sketches
  * the written-file pass computes; a permanent erase clears the erased
  * values out of the table sketches inside its rewrite commit. */
class NdvFoldSpec extends SparkSuite {

  private def table(name: String, ddl: String,
      props: Map[String, String] = Map.empty): GraftTable = {
    val cat = new GraftCatalog(spark, graft.ScratchDirs.create("graft-ndv-"))
    cat.createNamespace("default")
    cat.createTable("default", name, StructType.fromDDL(ddl), props)
  }

  /** Every NDV-eligible type, plus a column that is always null. */
  private val allTypes = "s STRING, i INT, b BIGINT, d DATE, " +
    "ts TIMESTAMP, ntz TIMESTAMP_NTZ, f FLOAT, x DOUBLE, " +
    "dec DECIMAL(12,3), flag BOOLEAN, z STRING"

  private def typedRows(from: Int, n: Int): Seq[Row] =
    (from until from + n).map { i =>
      Row(
        if (i % 7 == 0) null else s"s$i",
        if (i % 5 == 0) null else Integer.valueOf(i % 40),
        java.lang.Long.valueOf(i * 1000003L),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000 + i % 90)),
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i),
        java.lang.Float.valueOf(i % 4 match {
          case 0 => Float.NaN
          case 1 => -0.0f
          case _ => i * 0.5f
        }),
        java.lang.Double.valueOf(i % 3 match {
          case 0 => Double.NaN
          case 1 => -0.0
          case _ => i * 0.25
        }),
        if (i % 11 == 0) null else new java.math.BigDecimal(s"$i.125"),
        java.lang.Boolean.valueOf(i % 2 == 0),
        null)
    }

  private def frame(t: GraftTable, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, t.schema)

  /** Oracle: the k smallest distinct non-null hash60 values of each
    * column of `df`, with the ordering and de-duplication on the
    * driver. */
  private def bottomK(df: DataFrame, cols: Seq[String], k: Int)
      : Map[String, Seq[Long]] = {
    val rows = df.select(cols.map(c => Kmv.hash60(col(s"`$c`"))): _*)
      .collect()
    cols.indices.map { i =>
      cols(i) -> rows.toSeq.filterNot(_.isNullAt(i)).map(_.getLong(i))
        .distinct.sorted.take(k)
    }.toMap
  }

  private def addedEntries(t: GraftTable, snap: SnapshotMeta) =
    t.manifestOf(t.currentSnapshot.get)
      .filter(e => e.content == 0 && e.addedSnapshotId == snap.snapshotId)

  private def absPath(t: GraftTable, e: ManifestEntry): String =
    t.root.resolve(e.path).toAbsolutePath.toString

  private def phys(t: GraftTable, c: String): String =
    t.meta.physicalNames.getOrElse(c, c)

  test("the in-hand fold equals the written-file pass on the same file " +
    "for every NDV-eligible type (NaN, -0.0, nulls, an all-null " +
    "column, a renamed column) and runs zero Spark jobs") {
    val t = table("types", allTypes)
    val K = 16
    t.append(frame(t, typedRows(0, 200)))
    t.computeTableStats(Nil, K)
    t.renameColumn("s", "s_renamed")
    val cols = t.schema.fieldNames.toSeq
    val before = t.meta.columnNdv
    val batch = frame(t, typedRows(200, 60))
    val (snap, jobs) = SparkJobs.count(spark.sparkContext)(t.append(batch))
    assert(jobs === 0, "an analyzed-table append the driver-side writer " +
      "takes must fold and stamp with zero Spark jobs")
    val Seq(entry) = addedEntries(t, snap)
    val byJob = t.ndvFileHashJob(t.meta, Seq(absPath(t, entry)), cols, K)
      .values.headOption.getOrElse(Map.empty)
    val oracle = bottomK(batch, cols, K)
    cols.foreach { c =>
      val stamp = entry.ndv(phys(t, c))
      assert(stamp === FileNdv(K, byJob.getOrElse(c, Nil)),
        s"$c: in-hand stamp differs from the written-file pass")
      assert(stamp.hashes === oracle(c), s"$c: stamp is not the bottom-k")
      val old = before(phys(t, c))
      assert(t.meta.columnNdv(phys(t, c)) === NdvSketch(K,
        (old.hashes ++ oracle(c)).distinct.sorted.take(K), snap.snapshotId),
        s"$c: table fold")
    }
    assert(entry.ndv(phys(t, "z")) === FileNdv(K, Nil),
      "an all-null column gets an empty stamp")
    assert(phys(t, "s_renamed") === "s", "the stamp keys the physical name")
    // re-ANALYZE re-stamps every entry through the written-file pass:
    // the in-hand stamp and the table sketch must not move
    val stamped = entry.ndv
    val folded = t.meta.columnNdv.map { case (c, s) => c -> s.hashes }
    t.computeTableStats(Nil, K)
    assert(t.manifestOf(t.currentSnapshot.get)
      .find(_.path == entry.path).get.ndv === stamped)
    assert(t.meta.columnNdv.map { case (c, s) => c -> s.hashes } === folded)
  }

  test("the insert-only rowDelta fold adds no Spark job") {
    val ddl = "k BIGINT, tag STRING"
    def run(analyze: Boolean): (GraftTable, Int) = {
      val t = table(if (analyze) "rd_stats" else "rd_plain", ddl)
      t.append(spark.range(100).selectExpr("id AS k", "concat('t', id) AS tag"))
      if (analyze) t.computeTableStats()
      val rows = spark.createDataFrame(
        (100 until 130).map(i => Row(i.toLong, s"t$i")).asJava, t.schema)
      val keys = spark.createDataFrame(java.util.List.of[Row](),
        StructType.fromDDL("k BIGINT"))
      val (_, jobs) =
        SparkJobs.count(spark.sparkContext)(t.rowDelta(keys, rows))
      (t, jobs)
    }
    val (plain, plainJobs) = run(analyze = false)
    val (t, jobs) = run(analyze = true)
    assert(jobs === plainJobs, "the fold must ride on the written rows")
    assert(t.columnNdv("k").contains(130L))
    assert(!t.statsTable.collect().exists(_.getBoolean(5)),
      "the insert-only form is a main append: the sketch stays fresh")
    assert(plain.meta.columnNdv.isEmpty)
  }

  test("bloom-column, clustered and over-10,000-row appends take the " +
    "job path to the same sketches") {
    val ddl = "k BIGINT, tag STRING"
    val K = 64
    def check(label: String, props: Map[String, String], n: Int): Unit = {
      val t = table(label, ddl, props)
      t.append(spark.range(500)
        .selectExpr("id AS k", "concat('t', id % 300) AS tag"))
      t.computeTableStats(Nil, K)
      val before = t.meta.columnNdv
      val batch = spark.createDataFrame((0 until n).map(i =>
        Row(1000L + i, if (i % 9 == 0) null else s"u${i % 700}")).asJava,
        t.schema)
      val (snap, jobs) = SparkJobs.count(spark.sparkContext)(t.append(batch))
      assert(jobs > 0, s"$label: must take the job path")
      val cols = Seq("k", "tag")
      val oracle = bottomK(batch, cols, K)
      cols.foreach { c =>
        assert(t.meta.columnNdv(c).hashes ===
          (before(c).hashes ++ oracle(c)).distinct.sorted.take(K),
          s"$label/$c: table fold")
      }
      val added = addedEntries(t, snap)
      assert(added.nonEmpty)
      added.foreach { e =>
        val fileOracle = bottomK(spark.read.parquet(absPath(t, e)), cols, K)
        cols.foreach(c => assert(e.ndv(c) === FileNdv(K, fileOracle(c)),
          s"$label/$c: stamp of ${e.path}"))
      }
    }
    check("bloom", Map("write.bloom-columns" -> "k"), 50)
    check("clustered", Map("write.clustered-by" -> "k",
      "write.clustered-by.files" -> "3"), 50)
    check("large", Map.empty, 10001)
  }

  test("the stamps a distributed write takes equal the written-file " +
    "pass per file and per table for every NDV-eligible type, on " +
    "plain, renamed, bloom and clustered tables") {
    val K = 16
    def check(label: String, props: Map[String, String]): Unit = {
      val t = table(label, allTypes, props)
      t.append(frame(t, typedRows(0, 200)))
      t.computeTableStats(Nil, K)
      t.renameColumn("s", "s_renamed")
      val cols = t.schema.fieldNames.toSeq
      val before = t.meta.columnNdv
      // repartitioned: the rows leave the driver and tasks write them
      val batch = frame(t, typedRows(200, 300)).repartition(3)
      val snap = t.append(batch)
      val added = addedEntries(t, snap)
      assert(added.nonEmpty, label)
      val byJob = t.ndvFileHashJob(t.meta, added.map(absPath(t, _)), cols, K)
      added.foreach { e =>
        val fileJob = byJob.getOrElse(Io.normalize(absPath(t, e)), Map.empty)
        cols.foreach(c => assert(e.ndv(phys(t, c)) ===
          FileNdv(K, fileJob.getOrElse(c, Nil)), s"$label/$c: ${e.path}"))
      }
      val oracle = bottomK(batch, cols, K)
      cols.foreach { c =>
        val old = before(phys(t, c))
        assert(t.meta.columnNdv(phys(t, c)).hashes ===
          (old.hashes ++ oracle(c)).distinct.sorted.take(K),
          s"$label/$c: table fold")
      }
      assert(added.forall(_.ndv(phys(t, "z")) === FileNdv(K, Nil)), label)
    }
    check("plain_types", Map.empty)
    check("bloom_types", Map("write.bloom-columns" -> "b"))
    check("clustered_types", Map("write.clustered-by" -> "i",
      "write.clustered-by.files" -> "3"))
  }

  test("a 10,001-row append to an analyzed table runs one Spark job, " +
    "the write") {
    val t = table("one_job", "k BIGINT, tag STRING")
    t.append(spark.range(500).selectExpr("id AS k", "concat('t', id) AS tag"))
    t.computeTableStats(Nil, 64)
    val batch = spark.createDataFrame((0 until 10001).map(i =>
      Row(1000L + i, s"u${i % 700}")).asJava, t.schema)
    val (snap, jobs) = SparkJobs.count(spark.sparkContext)(t.append(batch))
    assert(jobs === 1)
    assert(addedEntries(t, snap).forall(_.ndv.keySet === Set("k", "tag")))
    assert(t.columnNdv("k").exists(_ > 10000L))
  }

  private val piiDdl = "case_id STRING, first_name STRING, " +
    "email_address STRING, key_nm STRING"

  private def piiRows(from: Int, n: Int): Seq[Row] =
    (from until from + n).map(i =>
      Row(s"case-$i", s"name$i", s"user$i@example.com", s"key$i"))

  private def hash60(v: String): Long =
    spark.range(1).select(Kmv.hash60(lit(v))).head().getLong(0)

  test("a permanent erase refolds the table sketches in its rewrite " +
    "commit: no hash of the erased values stays in the current " +
    "metadata, the sketch reads fresh, and the erase commits no extra " +
    "metadata version") {
    def erase(name: String, props: Map[String, String], analyze: Boolean,
        mode: ErasePii.Mode): (GraftTable, Int) = {
      val t = table(name, piiDdl, Map("write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read") ++ props)
      t.append(spark.createDataFrame(piiRows(0, 40).asJava, t.schema))
      if (analyze) t.computeTableStats(Seq("first_name", "email_address"), 256)
      t.append(spark.createDataFrame(piiRows(40, 10).asJava, t.schema))
      val v0 = t.version
      ErasePii.run(t, "case_id", "case-7", mode)
      (t, t.version - v0)
    }
    val victim = Seq(hash60("name7"), hash60("user7@example.com"))
    for (mode <- Seq(ErasePii.DeleteRow,
        ErasePii.NullifyColumns(Seq("first_name", "email_address")))) {
      val (plain, plainVersions) =
        erase("plain", Map.empty, analyze = false, mode)
      assert(plain.meta.columnNdv.isEmpty)
      val (t, versions) = erase("stats", Map.empty, analyze = true, mode)
      assert(versions === plainVersions,
        s"$mode: the refold rides the rewrite commit")
      val hashes = t.meta.columnNdv.values.flatMap(_.hashes).toSet
      assert(victim.forall(h => !hashes(h)),
        s"$mode: an erased value's hash is still in the table sketch")
      assert(!t.statsTable.collect().exists(_.getBoolean(5)),
        s"$mode: the refolded sketch is fresh")
      assert(t.columnNdv("email_address").contains(49L))
      // the refold is what a fresh ANALYZE computes
      val refolded = t.meta.columnNdv.map { case (c, s) => c -> s.hashes }
      t.computeTableStats(Seq("first_name", "email_address"), 256)
      assert(t.meta.columnNdv.map { case (c, s) => c -> s.hashes } ===
        refolded)
    }
    // per-file sketches off: no refold is possible, so the erased
    // columns' sketches go
    val (off, _) = erase("off", Map("stats.file-ndv" -> "false"),
      analyze = true, ErasePii.NullifyColumns(Seq("email_address")))
    assert(off.meta.columnNdv.keySet === Set("first_name"))
    // a COW erase of the last row leaves no row to write back: the
    // erase's rewrite commit still refolds the sketches, to empty
    val last = table("last", piiDdl,
      Map("write.delete.mode" -> "copy-on-write"))
    last.append(spark.createDataFrame(piiRows(7, 1).asJava, last.schema))
    last.computeTableStats(Seq("first_name", "email_address"), 256)
    ErasePii.run(last, "case_id", "case-7", ErasePii.DeleteRow)
    assert(last.read().count() === 0L)
    assert(last.meta.columnNdv.values.forall(_.hashes.isEmpty))
  }
}
