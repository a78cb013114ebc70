package org.apache.spark.sql.graft

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.rel.Kmv

/** Per-file bottom-k sketches taken while Spark's file writer writes
  * (Delta Lake's DeltaJobStatisticsTracker pattern): each task keeps,
  * for every written file, the k smallest distinct values of each
  * bigint `hash` expression over the rows it wrote, and the driver
  * gathers them when the job commits. Nothing re-reads the file and
  * nothing lands in its footer. Keys are file NAMES: a task sees its
  * attempt's temporary path, the committed file keeps the name. */
final class BottomKTracker private (hashes: Seq[Expression], k: Int)
    extends WriteJobStatsTracker {

  @transient private var gathered = Map.empty[String, Seq[Array[Long]]]

  /** File name → one ascending distinct array per hash, as the last
    * committed write gathered them. */
  def sketches: Map[String, Seq[Array[Long]]] = gathered

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    gathered ++= stats.iterator.flatMap {
      case s: BottomKTracker.Stats => s.byFile
    }

  private final class Task extends WriteTaskStatsTracker {
    private val project = UnsafeProjection.create(hashes)
    private val agg = new Kmv.BottomK(k)
    private val files = mutable.HashMap.empty[String, Array[Array[Long]]]
    // rows arrive file by file: skip the name lookup while it holds
    private var lastPath: String = _
    private var last: Array[Array[Long]] = _

    private def buffers(path: String): Array[Array[Long]] = {
      if (path ne lastPath) {
        lastPath = path
        last = files.getOrElseUpdate(new HPath(path).getName,
          Array.fill(hashes.size)(Array.emptyLongArray))
      }
      last
    }

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = buffers(filePath)
    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val bufs = buffers(filePath)
      val h = project(row)
      var i = 0
      while (i < bufs.length) {
        if (!h.isNullAt(i)) bufs(i) = agg.reduce(bufs(i), h.getLong(i))
        i += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      BottomKTracker.Stats(files.map { case (f, b) => f -> b.toSeq }.toMap)
  }
}

object BottomKTracker {
  private final case class Stats(byFile: Map[String, Seq[Array[Long]]])
      extends WriteTaskStats

  /** A tracker for `hashes` (bigint columns over `df`'s columns) on the
    * rows `df` produces, in `df`'s column order. */
  def apply(df: DataFrame, hashes: Seq[Column], k: Int): BottomKTracker =
    df.select(hashes: _*).queryExecution.analyzed match {
      case Project(list, child) => new BottomKTracker(list.map {
        case a: Alias => BindReferences.bindReference(a.child, child.output)
        case e => BindReferences.bindReference(e: Expression, child.output)
      }, k)
      case other => throw new IllegalStateException(
        s"a projection analyzed to ${other.nodeName}")
    }

  /** Feed `rows` (in the tracked frame's column order), written as the
    * one file `file` by a writer outside Spark's job, through the same
    * task-side tracker, and gather the result. */
  def observe(tracker: BottomKTracker, file: String,
      rows: Iterator[InternalRow]): Unit = {
    val task = tracker.newTaskInstance()
    task.newFile(file)
    rows.foreach(task.newRow(file, _))
    task.closeFile(file)
    tracker.processStats(Seq(task.getFinalStats(0L)), 0L)
  }
}

/** The write `df.write.options(options).parquet(dir)` runs (the same
  * FileFormatWriter job, committer and file layout), with extra
  * `trackers` watching every written row. */
object SketchedWrite {
  def parquet(df: DataFrame, dir: String, options: Map[String, String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val out = new HPath(dir)
    val qualified = out.getFileSystem(hadoopConf)
      .makeQualified(out).toString
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = FileCommitProtocol.instantiate(
          spark.sessionState.conf.fileCommitProtocolClass,
          jobId = UUID.randomUUID().toString,
          outputPath = qualified),
        outputSpec = FileFormatWriter.OutputSpec(qualified, Map.empty,
          plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = trackers,
        options = options)
    }
  }
}
