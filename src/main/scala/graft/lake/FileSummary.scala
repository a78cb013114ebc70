package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Port of the reference's metadata-analytics pipeline
  * (/root/reference/notebooks/utils/file_summary_utils.py:18-179 and
  * diff_utils.py:20-80) from SQL-over-Iceberg-metadata-tables + pandas
  * to DataFrame algebra over GraftLake metadata tables.
  *
  * Output schema matches file_summary_utils.py:164-169:
  *   prefix, file_type, file_format, created_minute, files_in_catalog,
  *   run_id, operation
  * Diff output adds old_count, new_count, delta, status
  * (diff_utils.py:53-78).
  */
object FileSummary {

  /** Metadata-side summary (file_summary_utils.py:45-105): the
    * reference's three metadata CTEs — manifest LISTS (one per
    * snapshot, from `snapshots.manifest_list`), manifest files (the
    * entry SEGMENTS, from `all_manifests` joined to snapshots for
    * their commit time, :62-79), and metadata JSON log entries —
    * bucketed by creation minute. Our manifests are JSON (not Avro),
    * reflected in file_format. */
  def metaSummary(t: GraftTable, runId: String, operation: String): DataFrame = {
    val snaps = t.snapshots
    val manifestLists = snaps
      .filter(col("manifest_list").isNotNull)
      .select(col("manifest_list").as("file"),
        col("committed_at").as("created_at"),
        lit("manifest-list").as("file_type"), lit("json").as("file_format"))
    val mans = t.allManifests
    val manifests = mans
      .join(snaps, mans("added_snapshot_id") === snaps("snapshot_id"), "left")
      // a segment can outlive its creator snapshot (shared by later
      // manifest lists after expiry); drop null buckets like the
      // reference (:79 WHERE LEAST(...) IS NOT NULL)
      .filter(col("committed_at").isNotNull)
      .select(col("path").as("file"), col("committed_at").as("created_at"),
        lit("manifest").as("file_type"), lit("json").as("file_format"))
    val metadataJson = t.metadataLogEntries
      .filter(col("file").isNotNull)
      .select(col("file"), col("timestamp").as("created_at"),
        lit("metadata-json").as("file_type"), lit("json").as("file_format"))
    summarize(manifestLists.unionByName(manifests).unionByName(metadataJson),
      runId, operation)
  }

  /** Data-side summary (file_summary_utils.py:116-159): every file ever
    * referenced by a manifest entry with status != DELETED, typed by
    * content, created at the earliest referencing snapshot's commit. */
  def dataSummary(t: GraftTable, runId: String, operation: String): DataFrame = {
    val entries = t.allEntries.alias("e")
    val snaps = t.snapshots.alias("s")
    val perFile = entries
      .join(snaps, col("e.snapshot_id") === col("s.snapshot_id"), "left")
      .filter(col("e.status") =!= 2) // exclude DELETED entries (ref :138)
      .groupBy(col("e.data_file.file_path").as("file"))
      .agg(min(col("s.committed_at")).as("created_at"),
        min(col("e.data_file.content")).as("content"))
    val typed = perFile.select(col("file"), col("created_at"),
      when(col("content") === 0, "data")
        .when(col("content") === 1, "position-deletes")
        .when(col("content") === 2, "equality-deletes")
        .otherwise(concat(lit("UNKNOWN("), col("content").cast("string"),
          lit(")"))).as("file_type"),
      lit("parquet").as("file_format"))
    summarize(typed, runId, operation)
  }

  /** Shared tail (file_summary_utils.py:91-110): prefix + minute bucket,
    * count, tag columns, ordered. */
  private def summarize(files: DataFrame, runId: String,
      operation: String): DataFrame =
    files
      .select(
        regexp_replace(col("file"), "/[^/]+$", "").as("prefix"),
        col("file_type"), col("file_format"),
        date_trunc("minute", col("created_at")).as("created_minute"))
      .groupBy("prefix", "file_type", "file_format", "created_minute")
      .agg(count(lit(1)).as("files_in_catalog"))
      .withColumn("run_id", lit(runId))
      .withColumn("operation", lit(operation))
      .orderBy("created_minute", "file_type", "file_format", "prefix")

  /** Both halves united on the named 7-column schema
    * (file_summary_utils.py:164-169 unionByName). */
  def fullSummary(t: GraftTable, runId: String,
      operation: String): DataFrame = {
    val cols = Seq("prefix", "file_type", "file_format", "created_minute",
      "files_in_catalog", "run_id", "operation").map(col)
    metaSummary(t, runId, operation).select(cols: _*)
      .unionByName(dataSummary(t, runId, operation).select(cols: _*))
      .orderBy("created_minute", "file_type", "file_format", "prefix")
  }

  /** The fixed 7-column summary schema (file_summary_utils.py:166). */
  val summarySchemaDdl: String =
    "prefix string, file_type string, file_format string, " +
      "created_minute timestamp, files_in_catalog bigint, " +
      "run_id string, operation string"

  /** Persist a summary run (file_summary_utils.py:162-176): align onto
    * the DDL schema via an empty typed frame (S6 — keeps the sink
    * schema stable even for an empty run), then append partitioned by
    * run_id after clustering rows to one file per partition value (S8:
    * repartition(col) + partitionBy). At scale this yields one
    * partition directory per run with no small-file explosion.
    */
  def persist(spark: SparkSession, summary: DataFrame, path: String): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(summarySchemaDdl))
    empty.unionByName(summary.select(empty.columns.toIndexedSeq.map(col): _*))
      .repartition(col("run_id"))
      .write.mode("append").partitionBy("run_id").parquet(path)
  }

  /** diff_utils.py:20-80 in Spark: inner-matched CHANGED/UNCHANGED plus
    * anti-joined ADDED/REMOVED, via one full outer join (the pandas
    * indicator-merge trick becomes native join semantics). */
  def diff(oldSummary: DataFrame, newSummary: DataFrame): DataFrame = {
    val keys = Seq("prefix", "file_type", "file_format", "created_minute")
    // null-safe key like diff_utils.py:25 fillna("__NULL__")
    def keyed(df: DataFrame, side: String) = df.select(
      keys.map(k => coalesce(col(k).cast("string"), lit("__NULL__"))
        .as(s"${side}_$k"))
      :+ col("files_in_catalog").as(s"${side}_count"): _*)
    val o = keyed(oldSummary, "old")
    val n = keyed(newSummary, "new")
    val joined = o.join(n,
      keys.map(k => col(s"old_$k") === col(s"new_$k")).reduce(_ && _),
      "full_outer")
    joined.select(
      keys.map(k => coalesce(col(s"new_$k"), col(s"old_$k")).as(k)) ++ Seq(
        coalesce(col("old_count"), lit(0L)).as("old_count"),
        coalesce(col("new_count"), lit(0L)).as("new_count"),
        (coalesce(col("new_count"), lit(0L))
          - coalesce(col("old_count"), lit(0L))).as("delta"),
        when(col("old_count").isNull, "ADDED")
          .when(col("new_count").isNull, "REMOVED")
          .when(col("new_count") =!= col("old_count"), "CHANGED")
          .otherwise("UNCHANGED").as("status")): _*)
      .orderBy("created_minute", "file_type", "file_format", "prefix")
  }
}
