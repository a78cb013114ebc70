package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Distributed metadata serving: past a total-entry threshold the
  * entries-family relations (files / all_files / all_entries + splits)
  * are served by `spark.read.json` over the manifest SEGMENT files —
  * executor-side scans, the way Iceberg reads manifests — instead of
  * driver-built local frames. Pins bit-equality between the two
  * serving paths and the auto-switch on a many-file manifest. */
class MetadataRelationsSpec extends SparkSuite {

  private val schema = StructType.fromDDL(
    "id BIGINT, grp STRING, v BIGINT")

  private def mkTable(): GraftTable = {
    val wh = graft.ScratchDirs.create("graft-mrs-")
    val t = GraftTable.create(spark, wh.resolve("t"), "d.t", schema,
      Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark.createDataFrame(
      (1L to 200L).map(i => Row(i, s"g${i % 5}", i * 2)).asJava, schema))
    t.append(spark.createDataFrame(
      (201L to 300L).map(i => Row(i, s"g${i % 5}", i * 2)).asJava, schema))
    t.delete(col("id") <= 10) // MOR: adds a position-delete file
    t.update(col("id") === 250, Map("v" -> lit(0L))) // COW honored? MOR
    t
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withThreshold[A](n: Long)(f: => A): A = {
    val key = "spark.graft.metadata.distributedThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("distributed serving is bit-equal to the driver path for " +
      "files / all_files / all_entries and their content splits " +
      "(statuses ADDED/EXISTING/DELETED included)") {
    val t = mkTable()
    val driver = Seq(t.files, t.dataFiles, t.deleteFiles, t.allFiles,
      t.allDataFiles, t.allDeleteFiles, t.allEntries, t.entries)
      .map(rowsOf)
    val dist = withThreshold(0) {
      Seq(t.files, t.dataFiles, t.deleteFiles, t.allFiles,
        t.allDataFiles, t.allDeleteFiles, t.allEntries, t.entries)
        .map(rowsOf)
    }
    driver.zip(dist).zipWithIndex.foreach { case ((d, x), i) =>
      assert(d === x, s"relation #$i diverged between serving paths")
    }
    // the driver path must exercise all three statuses or this test
    // proves less than it claims
    assert(driver(6).exists(_.startsWith("[1,")), "no ADDED rows")
    assert(driver(6).exists(_.startsWith("[3,")), "no EXISTING rows")
    assert(driver(6).exists(_.startsWith("[2,")), "no DELETED rows")
  }

  test("a many-file manifest auto-switches to executor-side segment " +
      "scans (plan reads the segment JSON, not a LocalRelation)") {
    val wh = graft.ScratchDirs.create("graft-mrs-")
    val t = GraftTable.create(spark, wh.resolve("t"), "d.t", schema)
    t.appendClustered(spark.createDataFrame(
      (1L to 5000L).map(i => Row(i, s"g${i % 7}", i)).asJava, schema),
      Seq("id"), nFiles = 64)
    t.appendClustered(spark.createDataFrame(
      (5001L to 9000L).map(i => Row(i, s"g${i % 7}", i)).asJava, schema),
      Seq("id"), nFiles = 64)
    withThreshold(100) {
      val plan = t.files.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("json"),
        s"expected an executor-side JSON segment scan:\n$plan")
      assert(t.files.count() === 128)
      assert(t.allFiles.count() === 128)
      // per-snapshot attribution survives the distributed path
      assert(t.allEntries.filter("status = 1").count() === 128)
      assert(t.allEntries.filter("status = 3").count() === 64)
    }
    // below the threshold the same table serves from the driver
    val plan2 = t.files.queryExecution.executedPlan.toString
    assert(!plan2.toLowerCase.contains("json"))
  }

  test("executor-side scan PLANNING is bit-equal to the driver path: " +
      "stats pruning picks the same file set, readWhere the same rows, " +
      "position_deletes and partitions the same relations") {
    val t = mkTable()
    val pred = col("id") >= 150L && col("id") <= 260L
    val driverPruned = t.prunedEntriesOf(t.meta, t.currentSnapshot.get, _ => pred)
    val driverRows = rowsOf(t.readWhere(pred))
    val driverPos = rowsOf(t.positionDeletes)
    val driverParts = rowsOf(t.partitionsTable)
    withThreshold(0) {
      val distPruned = t.prunedEntriesOf(t.meta, t.currentSnapshot.get, _ => pred)
      assert(distPruned.map(_.path).sorted === driverPruned.map(_.path).sorted,
        "the two planning paths chose different files")
      assert(distPruned.toSet === driverPruned.toSet)
      assert(rowsOf(t.readWhere(pred)) === driverRows)
      assert(rowsOf(t.positionDeletes) === driverPos)
      assert(rowsOf(t.partitionsTable) === driverParts)
    }
    assert(driverPos.nonEmpty, "MOR table must have position deletes")
  }

  test("distributed planning on a clustered table: bucket + identity " +
      "range bounds render identically on executors, and pruning still " +
      "prunes (survivors < table files)") {
    val wh = graft.ScratchDirs.create("graft-mrs-")
    val t = GraftTable.create(spark, wh.resolve("t"), "d.t", schema,
      Map(GraftTable.ClusterProp -> "bucket(8,grp),id"))
    t.appendClustered(spark.createDataFrame(
      (1L to 4000L).map(i => Row(i, s"g${i % 13}", i)).asJava, schema),
      Seq("id"), nFiles = 32)
    val pred = col("id") === 1234L && col("grp") === "g12"
    val driverPruned = t.prunedEntriesOf(t.meta, t.currentSnapshot.get, _ => pred)
    val driverParts = rowsOf(t.partitionsTable)
    assert(driverPruned.size < 32, "stats pruning should prune")
    withThreshold(0) {
      val distPruned = t.prunedEntriesOf(t.meta, t.currentSnapshot.get, _ => pred)
      assert(distPruned.toSet === driverPruned.toSet)
      assert(rowsOf(t.partitionsTable) === driverParts)
      assert(rowsOf(t.readWhere(pred)) ===
        Seq(Row(1234L, "g12", 1234L).toString))
    }
  }

  test("past the threshold a FRESH handle plans reads, position_deletes " +
      "and partitions with ZERO driver-side segment parses — planning is " +
      "O(survivors) driver work, not O(table entries)") {
    val wh = graft.ScratchDirs.create("graft-mrs-")
    val t = GraftTable.create(spark, wh.resolve("t"), "d.t", schema,
      Map("write.delete.mode" -> "merge-on-read"))
    t.appendClustered(spark.createDataFrame(
      (1L to 4000L).map(i => Row(i, s"g${i % 7}", i)).asJava, schema),
      Seq("id"), nFiles = 64)
    t.delete(col("id") === 17L) // one position-delete file
    withThreshold(10) {
      val t2 = GraftTable.load(spark, t.root) // empty parse caches
      assert(t2.readWhere(col("id") === 42L).collect()
        .map(_.getLong(0)).toSeq === Seq(42L))
      assert(t2.positionDeletes.count() === 1)
      assert(t2.partitionsTable.count() >= 1)
      assert(t2.segmentLoads.get() === 0,
        "distributed planning must not parse segments on the driver")
    }
  }
}
