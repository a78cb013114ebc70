package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{ErasePii, GraftTable}

/** pii_erase: the demo's pii_data table under erasure requests. Each
  * request ingests a small batch (fresh history behind every erase),
  * permanently erases one live subject, alternating DeleteRow and
  * NullifyColumns(email_address, first_name), then reads the erased
  * subject and two live ones back. A step is `RequestsPerStep`
  * requests; one of them erases a subject whose PII hashes the NDV
  * sketch retains, so the step shows the sketch residue. */
final class PiiErase(ctx: Ctx) extends Workload {
  import ctx._
  import Gen._

  val BaseCustomers = 15000
  val BatchSize = 50
  /** Untimed warm-up, 25 operations (commit latency settles over about
    * 30, and an ingest is the cheapest commit): ingests alone, then whole
    * requests. */
  val WarmupIngests = 10
  val WarmupRequests = 3
  val RequestsPerStep = 5
  val PiiColumns = Seq("email_address", "first_name")

  private val plan = new PiiPlan(seed, BaseCustomers, BatchSize,
    sketchEvery = RequestsPerStep)
  private val root = work.resolve("lake").resolve("pii").resolve("pii_data")
  private var table: GraftTable = _
  private val fs = new FsWatch(root)
  private var rowBytes = 0.0
  private var submittedRows = 0L
  private var liveRows = 0L

  val schema: StructType = StructType.fromDDL(
    "case_id STRING, first_name STRING, email_address STRING, " +
      "key_nm STRING, secure_txt STRING, secure_key STRING, update_date DATE")

  private def frame(rows: Seq[Subject]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(s =>
      Row(s.caseId, s.firstName, s.email, s.keyNm, s.secureTxt, s.secureKey,
        java.time.LocalDate.ofEpochDay(s.updateDays))): _*), schema)

  def setup(): Unit = {
    table = GraftTable.create(spark, root, "pii_data", schema, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    // one data file per core, as every run and tree gets the same cores
    table.append(frame(plan.base))
    rowBytes = PlainBytes.perRow(fs, plan.base.size)
    liveRows = plan.base.size
    Log("pii_erase: table loaded")
    table.computeTableStats(PiiColumns, SketchK)
    Log("pii_erase: NDV statistics computed")
    tracer.fs = Some(fs)
    (1 to WarmupIngests).foreach(_ => ingest(plan.ingest()))
    (1 to WarmupRequests).foreach(_ => request())
    fs.reset()
    submittedRows = 0
  }

  def step(): Unit = (1 to RequestsPerStep).foreach(_ => request())

  private def request(): Unit = {
    val req = plan.next()
    ingest(req.batch)

    val modeName = req.mode.toString
    rec.op("erase", s"erase.$modeName", tracer) {
      tracer.span("lake.erase", modeName)(ErasePii.run(table, "case_id",
        req.victim.caseId, req.mode match {
          case DeleteRow => ErasePii.DeleteRow
          case Nullify => ErasePii.NullifyColumns(PiiColumns)
        }, permanent = true))
      tracer.attr("rows_erased", 1)
      val rewritten = tracer.currentSpanFiles.map(f => PiiErase.parquetRows(root.resolve(f))).sum
      tracer.attr("rows_rewritten", rewritten.toDouble)
    } { _ => checkErased(req.victim) }
    fs.observe()
    req.mode match {
      case DeleteRow => liveRows -= 1
      case Nullify => submittedRows += 1
    }

    rec.op("read", "read.erased", tracer)(lookup(req.victim.caseId)) { rows =>
      req.mode match {
        case DeleteRow => Check(rows.isEmpty,
          s"erased ${req.victim.caseId} still readable: $rows")
        case Nullify => Check(rows.size == 1 && rows.head.isNullAt(1) &&
          rows.head.isNullAt(2), s"nullified ${req.victim.caseId} reads $rows")
      }
    }
    for (probe <- req.probes)
      rec.op("read", "read.live", tracer)(lookup(probe.caseId)) { rows =>
        Check(rows.size == 1 && rows.head.getString(1) == probe.firstName &&
          rows.head.getString(2) == probe.email,
          s"live ${probe.caseId} reads $rows")
      }
  }

  private def ingest(batch: Seq[Subject]): Unit = {
    submittedRows += batch.size
    liveRows += batch.size
    rec.op("commit", "ingest", tracer)(tracer.span("lake.commit", "append")(
      table.append(frame(batch))))(_ => ())
    fs.observe()
  }

  private def lookup(caseId: String): Seq[Row] =
    tracer.span("lake.scan", "readWhere") {
      val rows = table.readWhere(col("case_id") === caseId).collect().toSeq
      tracer.attr("rows_returned", math.max(1, rows.size).toDouble)
      rows
    }

  /** The erased subject's PII is unreadable from every retained snapshot
    * and absent from every file under the table root. The known residue
    * of its NDV-sketch hashes in metadata files is counted, not gated. */
  private def checkErased(s: Subject): Unit = {
    val values = Seq(s.email, s.firstName)
    for (snap <- table.meta.snapshots) {
      val n = table.readAt(snap.snapshotId).filter(
        col("email_address").isin(values: _*) ||
          col("first_name").isin(values: _*)).count()
      Check(n == 0, s"${s.caseId}: $n rows still hold its PII in snapshot " +
        snap.snapshotId)
    }
    val files = fs.list().keys.toSeq
    val leaking = files.filter(f => PiiErase.contains(root.resolve(f), values))
    Check(leaking.isEmpty, s"${s.caseId}: plaintext PII in ${leaking.mkString(", ")}")
    val hashes = values.map(v => hash60(v).toString)
    val residue = files.filterNot(_.endsWith(".parquet"))
      .count(f => PiiErase.containsNumber(root.resolve(f), hashes))
    tracer.attr("residue_files", residue.toDouble)
  }

  def extraMetrics(): Map[String, Double] = {
    fs.observe()
    Map("write_amp" -> fs.bytesWritten / (submittedRows * rowBytes),
      "space_amp" -> fs.totalBytes / (liveRows * rowBytes))
  }
}

object PiiErase {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private def reader(p: Path): ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(p.toUri)).build()

  def parquetRows(p: Path): Long = {
    val r = reader(p)
    try Iterator.continually(r.read()).takeWhile(_ != null).size.toLong
    finally r.close()
  }

  /** Whether a file holds any of `needles`: Parquet files are decoded
    * (their pages may be compressed), every other file is searched as
    * bytes. */
  def contains(p: Path, needles: Seq[String]): Boolean =
    if (p.toString.endsWith(".parquet")) {
      val r = reader(p)
      try Iterator.continually(r.read()).takeWhile(_ != null).exists { g =>
        val t = g.getType
        (0 until t.getFieldCount).exists(i =>
          t.getType(i).isPrimitive && t.getType(i).asPrimitiveType
            .getPrimitiveTypeName.name == "BINARY" &&
            (0 until g.getFieldRepetitionCount(i)).exists { j =>
              val v = g.getBinary(i, j).toStringUsingUTF8
              needles.exists(v.contains)
            })
      } finally r.close()
    } else {
      val text = new String(Files.readAllBytes(p), UTF_8)
      needles.exists(text.contains)
    }

  /** Whether a text file holds any of `numbers` as a whole token. */
  def containsNumber(p: Path, numbers: Seq[String]): Boolean = {
    val text = new String(Files.readAllBytes(p), UTF_8)
    numbers.exists(n => s"(?<![0-9])$n(?![0-9])".r.findFirstIn(text).nonEmpty)
  }
}
