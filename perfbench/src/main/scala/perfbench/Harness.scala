package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed, a private work
  * directory, the tracer and the recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val tracer: Tracer, val rec: Recorder)

/** A workload: untimed setup (state build and warm-up), then `step`
  * repeatedly until the measured window closes. */
trait Workload {
  def setup(): Unit
  def step(): Unit
  /** End-to-end values that are not latency samples: amplification. */
  def extraMetrics(): Map[String, Double]
}

/** Progress on stderr; the result goes to stdout. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** Latency samples by operation class, plus attempt and failure counts.
  * A failed operation, whether it threw or failed its check, is counted
  * and left untimed. */
final class Recorder {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.Map.empty
  var attempted = 0L
  var failed = 0L
  /** Operations completed in the untraced measured window that count
    * towards throughput. */
  var completed = 0L
  /** Seconds the untraced window spent in operations, checks included,
    * that do not count towards throughput. */
  var sideS = 0.0
  /** Off during setup and warm-up: operations still run and are checked,
    * but their latencies are not samples. */
  var timing = false
  val failures = mutable.ArrayBuffer[String]()

  /** Runs one operation; returns its latency when it succeeded. An
    * operation with `throughput = false` is timed and checked, but neither
    * it nor its time counts towards throughput. */
  def op[A](cls: String, name: String, tracer: Tracer,
      throughput: Boolean = true)(body: => A)(
      check: A => Unit): Option[Double] = {
    attempted += 1
    val traced = tracer.beginOp()
    val t0 = System.nanoTime()
    val outcome =
      try {
        val a = tracer.span(s"op.$cls", name)(body)
        val ms = (System.nanoTime() - t0) / 1e6
        check(a)
        Right(ms)
      } catch { case e: Throwable => Left(e) }
    tracer.endOp()
    if (timing && !traced && !throughput) sideS += (System.nanoTime() - t0) / 1e9
    outcome match {
      case Right(ms) =>
        Log(f"$cls%-6s $name%-28s $ms%9.1f ms${if (timing) "" else " (untimed)"}")
        if (timing && !traced && throughput) completed += 1
        sample(cls, ms, traced)
        Some(ms)
      case Left(e) =>
        failed += 1
        val msg = s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (failures.size < 20) failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        if (!e.isInstanceOf[CheckFailed]) e.printStackTrace()
        None
    }
  }

  def sample(cls: String, ms: Double, traced: Boolean): Unit = if (timing) {
    val key = if (traced) s"traced.$cls" else cls
    samples.getOrElseUpdate(key, mutable.ArrayBuffer()) += ms
  }

  def of(cls: String): Seq[Double] =
    samples.get(cls).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Bytes and files under a directory tree, watched between operations.
  * Files under a table root are immutable and uniquely named, so every
  * path seen for the first time is a file the lake wrote. */
final class FsWatch(root: Path) {
  private var last: Map[String, Long] = Map.empty
  private val seen = mutable.Set[String]()
  var filesCreated = 0L
  var bytesWritten = 0L

  def list(): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Files created and removed since the last call. */
  def observe(): (Map[String, Long], Set[String]) = {
    val now = list()
    val created = now.filter { case (p, _) => !seen(p) }
    val removed = last.keySet -- now.keySet
    created.foreach { case (p, b) =>
      seen += p; filesCreated += 1; bytesWritten += b
    }
    last = now
    (created, removed)
  }
  /** Start counting from the current state. */
  def reset(): Unit = { observe(); filesCreated = 0; bytesWritten = 0 }
  def totalBytes: Long = last.values.sum
}

/** The amplification unit: plain-Parquet bytes per user row, taken from
  * the data files of a table's first append (Parquet files of exactly the
  * submitted rows, before any lake bookkeeping). */
object PlainBytes {
  def perRow(fs: FsWatch, rows: Long): Double =
    fs.list().filter { case (p, _) => p.startsWith("data") && p.endsWith(".parquet") }
      .values.sum.toDouble / rows
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
