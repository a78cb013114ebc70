package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{ErasePii, GraftTable}

/** lake_cdc: a merge-on-read orders table under ongoing CDC traffic.
  * Writes (appends, point and range deletes, updates, equality deletes,
  * MERGE upserts, erasure requests) interleave with reads (latest
  * aggregate, stats-pruned readWhere, time travel, metadata tables);
  * a maintenance cycle closes every block. Every read is
  * checked against the driver-side model. */
final class LakeCdc(ctx: Ctx) extends Workload {
  import ctx._
  import Gen._

  val BaseRows = 150000
  /** Blocks between maintenance cycles. */
  val MaintEvery = 1
  /** Snapshots kept by the maintenance cycle's expiry: longer than the
    * lake's 8-version metadata cache. */
  val RetainSnapshots = 12
  /** Untimed appends before the warm-up block: with it, 30 operations,
    * over which commit latency settles. */
  val WarmupAppends = 16

  private val model = new CdcModel(seed, BaseRows)
  private val plan = new CdcPlan(seed, model, MaintEvery)
  private val root = work.resolve("lake").resolve("cdc").resolve("orders")
  private var table: GraftTable = _
  private val fs = new FsWatch(root)
  /** Model totals of every snapshot the table may still hold. */
  private val snapTotals = mutable.Map[Long, Totals]()
  private var rowBytes = 0.0
  private var submittedRows = 0L

  val schema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING")

  private def frame(rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(LakeCdc.row): _*),
      schema)

  def setup(): Unit = {
    val sd = seed
    table = GraftTable.create(spark, root, "orders", schema, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    table.append(spark.createDataFrame(spark.sparkContext.parallelize(
      0L until BaseRows, 8).map(k => LakeCdc.row(order(sd, k))), schema))
    rowBytes = PlainBytes.perRow(fs, BaseRows)
    Log("lake_cdc: table loaded")
    noteSnapshots()
    tracer.fs = Some(fs)
    // warm-up, untimed: appends, then every kind of operation once,
    // which also gives the table history before the window opens
    plan.queueWarmup(WarmupAppends)
    step()
    fs.reset()
    submittedRows = 0
  }

  /** One block of the stream: the same mix in every step. */
  def step(): Unit = do runOp(plan.next()) while (!plan.atBlockStart)

  private def runOp(op: CdcOp): Unit = {
    val name = op match {
      case Delete(lo, hi) => if (lo == hi) "PointDelete" else "RangeDelete"
      case ReadWhere(lo, hi, _) => if (lo == hi) "ReadPoint" else "ReadRange"
      case _ => op.getClass.getSimpleName.stripSuffix("$")
    }
    op match {
      case Append(rows) =>
        submittedRows += rows.size
        commit(name)(table.append(frame(rows)))
      case Delete(lo, hi) =>
        commit(name)(table.delete(col("o_orderkey").between(lo, hi)))
      case Update(lo, hi, d) =>
        submittedRows += model.rangeTotals(lo, hi).count
        commit(name)(table.update(col("o_orderkey").between(lo, hi),
          Map("o_totalprice" -> (col("o_totalprice") + lit(d / 100.0)))))
      case EqDelete(keys) =>
        commit(name)(table.equalityDelete(
          spark.createDataFrame(java.util.Arrays.asList(keys.map(Row(_)): _*),
            StructType.fromDDL("o_orderkey BIGINT"))))
      case Merge(rows) =>
        submittedRows += rows.size
        frame(rows).createOrReplaceTempView("cdc_src")
        rec.op("commit", name, tracer)(tracer.span("lake.sql", name)(
          spark.sql("""MERGE INTO graft.cdc.orders t USING cdc_src s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")))(_ => ())
        after()
      case Erase(c) =>
        rec.op("erase", name, tracer)(tracer.span("lake.erase", name)(
          ErasePii.run(table, "o_custkey", c, ErasePii.DeleteRow,
            permanent = false)))(_ => ())
        after()
      case ReadAgg(expect) =>
        read(name, expect)(table.read())
      case ReadWhere(lo, hi, expect) =>
        read(name, expect)(table.readWhere(col("o_orderkey").between(lo, hi)))
      case TimeTravel(pick) =>
        val ids = table.meta.snapshots.map(_.snapshotId).filter(snapTotals.contains)
        val id = ids((pick * ids.size).toInt.min(ids.size - 1))
        read(name, snapTotals(id))(table.readAt(id))
      case Meta(which) =>
        val expectSnaps = table.meta.snapshots.size
        rec.op("read", s"$name.$which", tracer)(tracer.span("lake.meta", which) {
          which match {
            case "files" => table.files
              .agg(count(lit(1)), sum(when(col("content") === 0,
                col("record_count")))).head()
            case "snapshots" => table.snapshots.agg(count(lit(1))).head()
            case _ => table.entries.agg(count(lit(1))).head()
          }
        }) { r =>
          which match {
            case "files" =>
              Check(r.getLong(1) >= model.totals.count,
                s"files: ${r.getLong(1)} data rows < ${model.totals.count} live")
            case "snapshots" =>
              Check(r.getLong(0) == expectSnaps,
                s"snapshots: ${r.getLong(0)} rows, metadata has $expectSnaps")
            case _ => Check(r.getLong(0) > 0, "entries: empty")
          }
        }
      case Maint =>
        rec.op("maint", name, tracer) {
          tracer.span("lake.maint", "rewriteDataFiles")(table.rewriteDataFiles())
          noteSnapshots()
          tracer.span("lake.maint", "rewritePositionDeleteFiles")(
            table.rewritePositionDeleteFiles())
          noteSnapshots()
          tracer.span("lake.maint", "expireSnapshots")(table.expireSnapshots(
            System.currentTimeMillis(), retainLast = RetainSnapshots))
          tracer.span("lake.maint", "removeOrphanFiles")(table.removeOrphanFiles(
            System.currentTimeMillis() + 1, force = true))
        }(_ => ())
        after()
    }
  }

  private def commit(name: String)(body: => Any): Unit = {
    rec.op("commit", name, tracer)(tracer.span("lake.commit", name)(body))(_ => ())
    after()
  }

  /** Book-keeping between operations, outside the timed region. */
  private def after(): Unit = { noteSnapshots(); fs.observe() }

  private def noteSnapshots(): Unit = {
    val m = table.meta
    m.currentSnapshotId.foreach(id =>
      if (!snapTotals.contains(id)) snapTotals(id) = model.totals)
    val retained = m.snapshots.map(_.snapshotId).toSet
    snapTotals.keys.filterNot(retained).toSeq.foreach(snapTotals.remove)
  }

  private def read(name: String, expect: Totals)(df: => DataFrame): Unit =
    rec.op("read", name, tracer) {
      val r = tracer.span("lake.scan", name)(df.agg(count(lit(1)),
        coalesce(sum(col("o_orderkey")), lit(0L)),
        coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L)))
        .head())
      tracer.attr("rows_returned", r.getLong(0).toDouble)
      Totals(r.getLong(0), r.getLong(1), r.getLong(2))
    }(got => Check(got == expect, s"$name: got $got, model $expect"))

  def extraMetrics(): Map[String, Double] = {
    fs.observe()
    Map("write_amp" -> fs.bytesWritten / (submittedRows * rowBytes),
      "space_amp" -> fs.totalBytes / (model.totals.count * rowBytes))
  }
}

object LakeCdc {
  def row(o: Gen.Order): Row = Row(o.key, o.cust, o.status, o.price,
    java.time.LocalDate.ofEpochDay(o.dateDays), o.priority)
}
