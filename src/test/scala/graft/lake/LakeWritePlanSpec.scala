package graft.lake

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite

/** Scale-shape regression tests for the lake WRITE paths: a predicate
  * write must scan only the files its predicate can touch (VERDICT r1
  * "What's wrong" #1), and no lake plan may carry a ScalaUDF path
  * filter (#2) — at 100 TB those are the difference between a bounded
  * rewrite and a full-table scan per UPDATE. */
class LakeWritePlanSpec extends SparkSuite {

  private val schema = StructType.fromDDL(
    "case_id STRING, payload STRING")

  private def rows(prefix: String, n: Int) =
    (1 to n).map(i => Row(f"$prefix-$i%05d", s"payload $prefix $i"))

  private def newTable(props: Map[String, String] = Map.empty): GraftTable = {
    val wh = graft.ScratchDirs.create("graft-wpln-")
    GraftTable.create(spark, wh.resolve("t"), "default.t", schema, props)
  }

  private def df(prefix: String, n: Int) =
    spark.createDataFrame(rows(prefix, n).asJava, schema)

  /** Run `op` while capturing every QueryExecution it triggers.
    * Streaming-origin executions (IncrementalExecution micro-batches)
    * are excluded: the listener is session-global and the shared test
    * session may still be draining async micro-batch events from an
    * earlier streaming suite's teardown — those would flakily fail the
    * exact execution-count assertions below without being ours. */
  private def capturing[A](op: => A): (A, Seq[QueryExecution]) = {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = captured.add(qe)
    }
    // drain events still in flight from EARLIER suites before
    // registering, or a stale execution (e.g. another spec's
    // deliberate analysis failure) leaks into this capture — the
    // session-global listener bus delivers asynchronously
    TestListenerBus.flush(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = op
      TestListenerBus.flush(spark.sparkContext)
      val batchOnly = captured.asScala.toSeq.filterNot(qe =>
        qe.isInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime
            .IncrementalExecution])
      (result, batchOnly)
    } finally spark.listenerManager.unregister(listener)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: children.flatMap(flatten)
  }

  private def scannedFiles(qes: Seq[QueryExecution]): Set[String] =
    qes.flatMap(qe => flatten(qe.executedPlan).collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten).map(Io.normalize).toSet

  private def dataFilePaths(t: GraftTable): Map[String, String] =
    t.files.filter("content = 0").collect()
      .map(r => r.getAs[String]("file_path"))
      .map(p => p -> p).toMap

  test("append of a metadata-sized local frame runs ZERO Spark " +
    "executions (driver-side parquet fast path); stats still committed") {
    val t = newTable()
    val (_, qes) = capturing { t.append(df("a", 500)) }
    assert(qes.isEmpty,
      s"local-frame append must skip the Spark writer; saw " +
        s"${qes.size} executions:\n" +
        qes.map(_.logical.nodeName).mkString("\n"))
    // and the committed stats are nonetheless present and usable
    val entries = t.manifestOf(t.currentSnapshot.get)
    assert(entries.forall(e => e.stats.contains("case_id") &&
      e.recordCount > 0))
  }

  test("append of a distributed frame runs exactly one Spark execution " +
    "(the write): stats come from footers, not a second scan over the " +
    "written files") {
    val t = newTable()
    // repartition defeats the LocalRelation fast path: this is the
    // cluster-shaped write every big append takes
    val (_, qes) = capturing { t.append(df("b", 500).repartition(2)) }
    assert(qes.size === 1,
      s"append must be write-only; saw ${qes.size} executions:\n" +
        qes.map(_.logical.nodeName).mkString("\n"))
    val entries = t.manifestOf(t.currentSnapshot.get)
    assert(entries.forall(e => e.stats.contains("case_id") &&
      e.recordCount > 0))
  }

  test("COW update scans only the files whose stats admit the predicate; " +
    "untouched files keep their manifest entries; no ScalaUDF anywhere") {
    val t = newTable()
    t.append(df("aaa", 50)) // file A: case_id in aaa-00001..aaa-00050
    t.append(df("zzz", 50)) // file B: case_id in zzz-*
    val before = dataFilePaths(t).keySet
    val fileB = t.files.filter("content = 0").collect()
      .map(_.getAs[String]("file_path"))
      .filter(p => spark.read.parquet(p)
        .filter(col("case_id").startsWith("zzz")).count() > 0)
    assert(fileB.nonEmpty, "sanity: one file holds the zzz rows")
    val (_, qes) = capturing {
      t.update(col("case_id") === "aaa-00007",
        Map("payload" -> lit("REDACTED")))
    }
    // the zzz file was pruned from BOTH the hit-discovery scan and the
    // rewrite read — never opened
    val scanned = scannedFiles(qes)
    fileB.foreach(p =>
      assert(!scanned.contains(Io.normalize(p)),
        s"unaffected file $p was scanned during a pruned COW update"))
    // and no plan smuggles the path filter back in as a UDF
    qes.foreach(qe => assert(!flatten(qe.executedPlan).mkString
      .contains("ScalaUDF"), "lake write plan contains a ScalaUDF"))
    // commit level: the zzz entry is carried over verbatim
    val after = dataFilePaths(t).keySet
    fileB.foreach(p => assert(after.contains(p),
      "unaffected file should keep its manifest entry"))
    assert((before -- after).nonEmpty, "the affected file was replaced")
    // semantics intact
    assert(t.read().filter(col("payload") === "REDACTED").count() === 1)
    assert(t.read().count() === 100)
  }

  test("selective compaction scans only undersized candidates") {
    val t = newTable()
    t.append(df("sm1", 2))
    t.append(df("sm2", 2))
    t.append(df("big", 20000).coalesce(1))
    val bigFile = t.files.filter("content = 0")
      .collect().map(_.getAs[String]("file_path"))
      .filter(p => Files.size(java.nio.file.Path.of(p)) > 50000)
    assert(bigFile.nonEmpty, "sanity: the big append produced a big file")
    val (snap, qes) = capturing {
      t.rewriteDataFiles(Map("target-file-size-bytes" -> "100000"))
    }
    assert(snap.nonEmpty, "compaction should have rewritten the small files")
    val scanned = scannedFiles(qes)
    bigFile.foreach(p => assert(!scanned.contains(Io.normalize(p)),
      s"right-sized file $p was scanned during selective compaction"))
    // the big file's entry survives; the two smalls merged
    val after = dataFilePaths(t).keySet
    bigFile.foreach(p => assert(after.contains(p)))
    assert(t.read().count() === 2 + 2 + 20000)
  }

  test("N interleaved equality deletes on one column set collapse to a " +
    "single anti-join and honor sequence numbers") {
    val t = newTable()
    def one(id: String, payload: String) = spark.createDataFrame(
      Seq(Row(id, payload)).asJava, schema)
    def key(id: String) = spark.createDataFrame(
      Seq(Row(id)).asJava, StructType.fromDDL("case_id STRING"))
    t.append(df("k", 3)) // k-00001..k-00003
    t.equalityDelete(key("k-00002"))
    t.append(one("k-00002", "v2"))
    t.equalityDelete(key("k-00002"))
    t.append(one("k-00002", "v3"))
    t.equalityDelete(key("k-00001"))
    t.equalityDelete(key("k-00009")) // no-op key, still a delete snapshot
    val got = t.read().orderBy("case_id").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(got.map(_._1).toSeq === Seq("k-00002", "k-00003"))
    assert(got.toMap.apply("k-00002") === "v3",
      "latest re-insert must win over older equality deletes")
    // 4 delete snapshots, same column set → ONE delete-filter
    // predicate over the scan (key → newest delete seq, file → data
    // seq, evaluated per task): no anti-join, no seq-attach join
    def assertJoinFree(): Unit = {
      val plan = t.read().queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join"),
        s"eq-delete read must not plan any join\n$plan")
      assert("graft_deleted".r.findAllIn(plan).size === 1,
        s"expected the one delete-filter predicate\n$plan")
    }
    assertJoinFree()
    // a 5,000-key set plans the same: the shape never depends on size
    val big = spark.createDataFrame(
      (0 until 5000).map(i => Row(f"x-$i%05d")).asJava,
      StructType.fromDDL("case_id STRING"))
    t.equalityDelete(big)
    t.equalityDelete(key("k-00003"))
    assertJoinFree()
    assert(t.read().collect().map(_.getString(0)).toSeq ===
      Seq("k-00002"),
      "must drop k-00003 and keep the re-inserted k-00002")
  }

  test("a 5,000-row position delete reads through the delete filter: " +
    "no join, no broadcast") {
    val t = newTable(Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark.range(20000).selectExpr(
      "format_string('p-%05d', id) AS case_id", "'x' AS payload")
      .repartition(2))
    t.delete(col("case_id") < "p-05000")
    assert(t.currentSnapshot.map(t.manifestOf).get
      .filter(_.content == 1).map(_.recordCount).sum === 5000)
    val read = t.read()
    val plan = read.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && plan.contains("graft_deleted"),
      s"position deletes must apply as the delete filter\n$plan")
    assert(!read.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    assert(read.count() === 15000)
    assert(read.filter(col("case_id") < "p-05000").count() === 0)
  }

  test("write.bloom-columns writes parquet bloom filters under the " +
    "PHYSICAL column name; point lookups stay correct") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val t = newTable(Map("write.bloom-columns" -> "case_id",
      "write.bloom-columns.ndv" -> "10000"))
    t.append(df("blm", 2000))
    // rename, then append again: blooms must keep following the
    // file-side (physical) name
    t.renameColumn("case_id", "case_key")
    t.append(spark.createDataFrame(rows("ren", 2000).asJava,
      StructType.fromDDL("case_key STRING, payload STRING")))
    val conf = spark.sessionState.newHadoopConf()
    val files = t.files.filter("content = 0").collect()
      .map(_.getAs[String]("file_path"))
    assert(files.nonEmpty)
    files.foreach { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf))
      try {
        val block = reader.getFooter.getBlocks.asScala.head
        val byName = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        val bloomReader = reader.getBloomFilterDataReader(block)
        assert(bloomReader.readBloomFilter(byName("case_id")) != null,
          s"no bloom filter on case_id in $p")
        assert(bloomReader.readBloomFilter(byName("payload")) == null,
          s"unexpected bloom filter on payload in $p")
      } finally reader.close()
    }
    // point lookups through the bloom-equipped files stay exact
    assert(t.readWhere(col("case_key") === "blm-01234").count() === 1)
    assert(t.readWhere(col("case_key") === "ren-00001").count() === 1)
    assert(t.readWhere(col("case_key") === "blm-99999").count() === 0)
  }

  test("days(ts) partition transform: files cover day-aligned ranges, " +
    "a day predicate prunes the scan, partitions table shows dates") {
    val sch = StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT")
    val wh = graft.ScratchDirs.create("graft-days-")
    val t = GraftTable.create(spark, wh.resolve("t"), "default.t", sch,
      Map("write.clustered-by" -> "days(ts)",
        // over-partition vs the 8 distinct days: range boundaries then
        // isolate every day (empty ranges write no files)
        "write.clustered-by.files" -> "16"))
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    val data = (0 until 4000).map { i =>
      Row(i.toLong, base.plusDays(i % 8).plusMinutes(i % 300), i.toLong % 97)
    }
    t.append(spark.createDataFrame(data.asJava, sch))
    val all = dataFilePaths(t).keySet
    assert(all.size === 8, s"one file per day expected, got ${all.size}")
    // a single-day predicate must scan exactly the files whose
    // day-tight ts stats admit it — not the table
    val (n, qes) = capturing {
      t.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-05 00:00:00")))
        .count()
    }
    assert(n === 500)
    val scanned = scannedFiles(qes).intersect(all.map(Io.normalize))
    assert(scanned.size === 1,
      s"day predicate scanned ${scanned.size} of ${all.size} files")
    // partitions relation renders transform-derived (date) ranges
    val parts = t.partitionsTable.collect()
    assert(parts.forall(_.getAs[String]("cluster_columns") === "days(ts)"))
    val mins = parts.map(_.getAs[String]("range_min")).toSeq
    assert(mins.contains("2024-03-01") && mins.contains("2024-03-08"),
      s"expected date-rendered ranges, got $mins")
    assert(parts.forall(r =>
      r.getAs[String]("range_min") === r.getAs[String]("range_max")),
      "each file should cover exactly one day")
  }

  test("bucket(n,col) partition transform: derived bucket stats prune " +
    "equality lookups that raw min/max cannot") {
    val sch = StructType.fromDDL("user_id BIGINT, payload STRING")
    val wh = graft.ScratchDirs.create("graft-bucket-")
    val t = GraftTable.create(spark, wh.resolve("t"), "default.t", sch,
      Map("write.clustered-by" -> "bucket(8,user_id)",
        "write.clustered-by.files" -> "8"))
    t.append(spark.createDataFrame(
      (0 until 4000).map(i => Row(i.toLong % 500, s"p$i")).asJava, sch))
    val all = dataFilePaths(t).keySet
    assert(all.size > 1)
    // every file spans nearly the full raw user_id domain (hashing
    // scatters), so only the derived bucket stat can prune
    val (n, qes) = capturing {
      t.readWhere(col("user_id") === 42L).count()
    }
    assert(n === 8) // 4000 rows over 500 ids
    val scanned = scannedFiles(qes).intersect(all.map(Io.normalize))
    assert(scanned.size < all.size,
      s"bucket equality scanned all ${all.size} files — derived " +
        "bucket stats did not prune")
    // IN-lists prune per-literal too
    val (_, qes2) = capturing {
      t.readWhere(col("user_id").isin(42L, 43L)).count()
    }
    assert(scannedFiles(qes2).intersect(all.map(Io.normalize)).size
      < all.size)
  }

  test("months(ts) / hours(ts) transforms: month-aligned files prune " +
    "month predicates; partitions table renders month starts; hours " +
    "clusters sub-day and SQL PARTITIONED BY accepts the full ladder") {
    val sch = StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT")
    val wh = graft.ScratchDirs.create("graft-months-")
    val t = GraftTable.create(spark, wh.resolve("t"), "default.t", sch,
      Map("write.clustered-by" -> "months(ts)",
        "write.clustered-by.files" -> "12"))
    val base = java.time.LocalDateTime.of(2024, 1, 15, 0, 0)
    t.append(spark.createDataFrame((0 until 4000).map { i =>
      Row(i.toLong, base.plusMonths(i % 5).plusMinutes(i % 300),
        i.toLong % 97)
    }.asJava, sch))
    val all = dataFilePaths(t).keySet
    assert(all.size === 5, s"one file per month expected, got ${all.size}")
    val (n, qes) = capturing {
      t.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-04-01 00:00:00")))
        .count()
    }
    assert(n === 800)
    assert(scannedFiles(qes).intersect(all.map(Io.normalize)).size === 1,
      "month predicate must scan exactly the one month-aligned file")
    // partitions relation renders month-start dates in both bounds
    val parts = t.partitionsTable.collect()
    assert(parts.forall(_.getAs[String]("cluster_columns") === "months(ts)"))
    val mins = parts.map(_.getAs[String]("range_min")).toSeq
    assert(mins.contains("2024-01-01") && mins.contains("2024-05-01"),
      s"expected month-start ranges, got $mins")
    assert(parts.forall(r =>
      r.getAs[String]("range_min") === r.getAs[String]("range_max")))
    // hours(ts): one day of data splits into hour-aligned files
    val th = GraftTable.create(spark, wh.resolve("th"), "default.th", sch,
      Map("write.clustered-by" -> "hours(ts)",
        "write.clustered-by.files" -> "8"))
    th.append(spark.createDataFrame((0 until 1200).map { i =>
      Row(i.toLong, base.plusHours(i % 4).plusSeconds(i % 3000),
        i.toLong % 97)
    }.asJava, sch))
    assert(dataFilePaths(th).keySet.size === 4,
      "one file per distinct hour expected")
    val (nH, qesH) = capturing {
      th.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-15 02:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-15 03:00:00")))
        .count()
    }
    assert(nH === 300)
    assert(scannedFiles(qesH)
      .intersect(dataFilePaths(th).keySet.map(Io.normalize)).size === 1,
      "hour predicate must scan exactly one hour-aligned file")
    // round-trip: parse/render keeps the ladder specs canonical
    import _root_.graft.lake.ClusterSpec
    assert(ClusterSpec.render(ClusterSpec.parseList(
      "hours(a), months(b), years(c), days(d)"))
      === "hours(a),months(b),years(c),days(d)")
  }

  test("partition spec evolution: days(ts) files keep day-pruning " +
    "after the spec changes to bucket(8,user_id); new files bucket-" +
    "prune; both coexist in one table") {
    val sch = StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT")
    val wh = graft.ScratchDirs.create("graft-evo-")
    val t = GraftTable.create(spark, wh.resolve("t"), "default.t", sch,
      Map("write.clustered-by" -> "days(ts)",
        "write.clustered-by.files" -> "16"))
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    t.append(spark.createDataFrame((0 until 4000).map { i =>
      Row(i.toLong, base.plusDays(i % 8).plusMinutes(i % 300),
        i.toLong % 97)
    }.asJava, sch))
    val oldFiles = dataFilePaths(t).keySet
    assert(oldFiles.size === 8)
    // evolve the spec — pure metadata, no rewrite of existing files
    t.setProperties(Map("write.clustered-by" -> "bucket(8,user_id)",
      "write.clustered-by.files" -> "8"))
    t.append(spark.createDataFrame((4000 until 8000).map { i =>
      Row(i.toLong, base.plusDays(20), i.toLong % 500)
    }.asJava, sch))
    val newFiles = dataFilePaths(t).keySet -- oldFiles
    assert(newFiles.size > 1)
    // day predicate: prunes to ONE old-layout file (their day-tight
    // stats survive the spec change) and zero-or-few new-layout files
    // (all on day 20, pruned by raw ts stats)
    val (nDay, qesDay) = capturing {
      t.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-05 00:00:00")))
        .count()
    }
    assert(nDay === 500)
    val dayScanned = scannedFiles(qesDay)
    assert(dayScanned.intersect(oldFiles.map(Io.normalize)).size === 1,
      "old-layout day pruning broke after spec evolution")
    assert(dayScanned.intersect(newFiles.map(Io.normalize)).isEmpty,
      "new-layout files are all on day 20 and must prune out")
    // bucket equality: new-layout files prune via derived bucket
    // stats; old-layout files (no bucket stats) are conservatively
    // scanned — correct, they predate the spec
    val (_, qesEq) = capturing {
      t.readWhere(col("user_id") === 442L).count()
    }
    val eqScanned = scannedFiles(qesEq)
    assert(eqScanned.intersect(newFiles.map(Io.normalize)).size
      < newFiles.size,
      "bucket pruning must engage on post-evolution files")
    // COMPACTION RESTORES PRUNING: rewrite re-buckets everything under
    // the CURRENT spec, so the old files' conservative full-scan
    // penalty ends at the first compaction — bucket equality now
    // prunes across the WHOLE table, and the day predicate still
    // answers correctly from the re-clustered files
    t.rewriteDataFiles(Map("rewrite-all" -> "true"))
    val rewritten = dataFilePaths(t).keySet
    assert(rewritten.intersect(oldFiles ++ newFiles).isEmpty,
      "rewrite-all must replace every pre-rewrite file")
    val (nEq2, qesEq2) = capturing {
      t.readWhere(col("user_id") === 442L).count()
    }
    val (nEq3, qesEq3) = capturing {
      t.readWhere(col("user_id") === 42L).count()
    }
    for ((qes2, what) <- Seq((qesEq2, "442"), (qesEq3, "42"))) {
      val scanned2 = scannedFiles(qes2).intersect(
        rewritten.map(Io.normalize))
      assert(scanned2.size < rewritten.size,
        s"user_id=$what scanned all ${rewritten.size} files after " +
          "compaction — rewrite did not restore bucket pruning")
    }
    assert(nEq2 === 8 && nEq3 === 8 + 41) // 8 new-layout + 41 old (i%97)
    val (nDay2, _) = capturing {
      t.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-05 00:00:00")))
        .count()
    }
    assert(nDay2 === 500)
  }

  test("truncate(w,col) partition transform: prefix-clustered files, " +
    "prefix predicates prune via raw stats, partitions table truncates") {
    val sch = StructType.fromDDL("word STRING, payload STRING")
    val wh = graft.ScratchDirs.create("graft-trunc-")
    val t = GraftTable.create(spark, wh.resolve("t"), "default.t", sch,
      Map("write.clustered-by" -> "truncate(3,word)",
        "write.clustered-by.files" -> "8"))
    val prefixes = Seq("app", "bee", "cat", "dog")
    t.append(spark.createDataFrame(
      (0 until 2000).map(i =>
        Row(f"${prefixes(i % 4)}-$i%05d", s"p$i")).asJava, sch))
    val all = dataFilePaths(t).keySet
    assert(all.size === 4)
    val (n, qes) = capturing {
      t.readWhere(col("word") === "cat-00042").count()
    }
    assert(n === 1)
    val scanned = scannedFiles(qes).intersect(all.map(Io.normalize))
    assert(scanned.size === 1,
      s"prefix lookup scanned ${scanned.size} of ${all.size} files")
    val parts = t.partitionsTable.collect()
    assert(parts.forall(r =>
      r.getAs[String]("range_min") === r.getAs[String]("range_max")),
      "each file should cover exactly one 3-char prefix")
    assert(parts.map(_.getAs[String]("range_min")).sorted.toSeq ===
      prefixes.sorted)
  }

  test("volume smoke: 60k-row lifecycle — clustered multi-file append, " +
    "MOR delete writes scaled delete files, rewrite compacts back to " +
    "the exact surviving rows") {
    val t = newTable(Map(
      "write.delete.mode" -> "merge-on-read",
      // small per-file targets so the volume actually exercises the
      // multi-file paths (8 data files, >1 delete part)
      "write.delete.rows-per-file" -> "4000",
      "write.clustered-by" -> "case_id",
      "write.cluster-file-count" -> "8"))
    val n = 60000
    t.append(df("v", n))
    assert(t.files.count() === 8, "clustered append must write 8 files")
    // MOR-delete ~25% of rows spread across every file's key range
    t.delete(substring(col("case_id"), -1, 1).isin("3", "7"))
    val survivors = (1 to n).map(i => f"v-$i%05d")
      .filterNot(id => id.endsWith("3") || id.endsWith("7"))
    assert(t.read().count() === survivors.size)
    // the tombstone write must scale out: 12k hits / 4k per file > 1 part
    assert(t.positionDeletes.select("file_path").distinct().count() > 1 ||
      t.deleteFiles.count() > 1,
      "a 12k-row MOR delete funneled into a single delete file")
    // compaction erases the masked rows permanently and exactly
    t.rewriteDataFiles(Map("rewrite_all" -> "true"))
    assert(t.deleteFiles.count() === 0, "rewrite must drop delete files")
    val got = t.read().select("case_id").collect().map(_.getString(0))
    assert(got.length === survivors.size)
    assert(got.sorted.toSeq === survivors,
      "post-rewrite content diverged from the expected survivor set")
  }
}
