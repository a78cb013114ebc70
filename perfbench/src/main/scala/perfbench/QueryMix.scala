package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.lake.{ErasePii, GraftTable}

/** query_mix: a fixed list of SparkEntry queries from the non-lake
  * catalogs (rel, streaming, llm) over a generated sf0.1 corpus. The
  * seed only permutes the order of each pass; each query runs `Repeats`
  * times in a row. Each result is collected, its fingerprint checked
  * against the one recorded from the tree this benchmark was defined on,
  * and published as one row to a small lake results table; then the
  * query's rows from the previous pass are permanently erased from it
  * (retention of one pass). Only query runs count towards throughput:
  * the publishes and erases are commit and erase samples, so a lake
  * change does not move ops_per_s here. */
final class QueryMix(ctx: Ctx, corpus: Path, record: Option[Path])
    extends Workload {
  import ctx._

  /** Each query runs this many times in a row per pass. */
  val Repeats = 3
  private val root = work.resolve("lake").resolve("qm").resolve("results")
  private var table: GraftTable = _
  private val fs = new FsWatch(root)
  private val expected: Map[String, String] = QueryMix.expected
  private val seen = mutable.LinkedHashMap[String, String]()
  private var pass = 0
  private var rowBytes = 0.0
  private var submittedRows = 0L
  /** Rows the results table holds, by run key (pass and query). */
  private val live = mutable.Map[String, Int]()
  private val catalogOf: Map[String, String] = QueryMix.catalogs

  val schema: StructType = StructType.fromDDL(
    "run_key STRING, query STRING, n_rows BIGINT, fingerprint STRING")
  private def runKey(p: Int, q: String) = s"$p/$q"

  def setup(): Unit = {
    table = GraftTable.create(spark, root, "results", schema, Map(
      "write.delete.mode" -> "merge-on-read"))
    val unknown = QueryMix.Queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    tracer.fs = Some(fs)
    // warm-up, untimed: every query twice pays per-plan codegen and lets
    // the JIT settle, so the first query of the window is not slower than
    // the rest; a row of a pass -1 gives it a retention erase to warm up too
    val first = Gen.permutation(seed, 0, QueryMix.Queries).head
    publish(Row(runKey(-1, first), first, 0L, ""))
    step(repeats = 2)
    fs.reset()
    submittedRows = 0
  }

  def step(): Unit = step(Repeats)

  private def step(repeats: Int): Unit = {
    for (q <- Gen.permutation(seed, pass, QueryMix.Queries)) {
      val times = (1 to repeats).flatMap(_ => run(q))
      // a query's read latency is its best of `repeats` runs in a row
      if (times.size == repeats) rec.sample("read", times.min, tracer.window)
      retain(runKey(pass - 1, q))
    }
    pass += 1
    record.foreach(p => Files.writeString(p, Json.obj(
      seen.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }) + "\n"))
  }

  /** One execution: collect, check the fingerprint, publish the row. */
  private def run(q: String): Option[Double] = {
    var result: Row = null
    val ms = rec.op("query", q, tracer) {
      tracer.span(catalogOf(q), q)(
        SparkEntry.queries(q)(spark, corpus.toString).collect())
    } { rows =>
      val fp = QueryMix.fingerprint(rows)
      seen(q) = fp
      result = Row(runKey(pass, q), q, rows.length.toLong, fp)
      if (record.isEmpty) Check(expected.get(q).contains(fp),
        s"$q: fingerprint $fp, expected ${expected.getOrElse(q, "none")}")
    }
    if (result != null) publish(result)
    ms
  }

  private def publish(row: Row): Unit = {
    val frame = spark.createDataFrame(java.util.Arrays.asList(row), schema)
    val key = row.getString(0)
    rec.op("commit", "publish", tracer, throughput = false)(tracer.span("lake.commit", "append")(
      table.append(frame)))(_ => live(key) = live.getOrElse(key, 0) + 1)
    submittedRows += 1
    if (rowBytes == 0) rowBytes = PlainBytes.perRow(fs, 1)
    fs.observe()
  }

  /** Retention: permanently erase a run key that has left the window. */
  private def retain(key: String): Unit = if (live.contains(key)) {
    rec.op("erase", "retention", tracer, throughput = false) {
      tracer.span("lake.erase", "DeleteRow")(ErasePii.run(table, "run_key",
        key, ErasePii.DeleteRow, permanent = true))
      tracer.attr("rows_erased", live(key).toDouble)
      tracer.attr("rows_rewritten", tracer.currentSpanFiles
        .map(f => PiiErase.parquetRows(root.resolve(f))).sum.toDouble)
    } { _ =>
      live.remove(key)
      for (s <- table.meta.snapshots) {
        val n = table.readAt(s.snapshotId).filter(col("run_key") === key).count()
        Check(n == 0, s"$key still has $n rows in snapshot ${s.snapshotId}")
      }
      val n = table.read().count()
      Check(n == live.values.sum, s"results table has $n rows, expected " +
        live.values.sum)
    }
    fs.observe()
  }

  def extraMetrics(): Map[String, Double] = {
    fs.observe()
    Map("write_amp" -> fs.bytesWritten / (submittedRows * rowBytes),
      "space_amp" -> fs.totalBytes / (live.values.sum * rowBytes))
  }
}

object QueryMix {
  /** The fixed query list (also recorded in perfbench/SPEC.json). */
  val Queries: Seq[String] = Seq(
    "q_agg_pricing_summary", "q_tpch_q13_custdist", "q_stream_tumbling",
    "q_dedup_simhash", "q_pipe_quantiles")

  def catalogs: Map[String, String] = {
    import graft.{llm, rel, streaming}
    Seq("rel" -> Seq(rel.ScanFilterQueries, rel.JoinQueries, rel.AggQueries,
        rel.SketchQueries, rel.AnalyticsQueries, rel.SortSetQueries,
        rel.FuncQueries, rel.WindowQueries),
      "streaming" -> Seq(streaming.StreamBatchQueries),
      "llm" -> Seq(llm.DedupQueries, llm.SimilarityQueries, llm.TextQueries,
        llm.MultimodalQueries, llm.PipelineQueries, llm.CurationQueries))
      .flatMap { case (c, cats) => cats.flatMap(_.all).map(_.name -> c) }.toMap
  }

  /** Fingerprints recorded from the tree the benchmark was defined on. */
  lazy val expected: Map[String, String] = {
    val in = getClass.getResourceAsStream("/perfbench/fingerprints.json")
    if (in == null) Map.empty
    else {
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      "\"([a-z0-9_]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  /** Row count plus an order-insensitive hash of the rows, with floating
    * values rounded to 6 significant digits. */
  def fingerprint(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += hash64(render(r)))
    f"${rows.length}:$h%016x"
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundSig(d)
    case f: Float => roundSig(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case x => x.toString
  }

  private def roundSig(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

}
