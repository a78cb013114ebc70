package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cache <dir> [--trace-out <file>]
  * [--record <file>]`. Prints one JSON object as its last stdout line:
  * correctness, attempts, failures and the end-to-end metrics (untraced)
  * or per-layer metrics (traced).
  *
  * Loop model: closed loop, one client thread, `local[<cores>]`. The
  * lake writes to the local file system with atomic renames and no
  * fsync, the same on every tree measured. */
object Main {
  val EndToEnd = Seq("setup_s", "ops_per_s", "commit_ms_p50", "commit_ms_tail",
    "read_ms_p50", "read_ms_tail", "erase_s_p50", "erase_s_tail", "write_amp",
    "space_amp")
  val Units = Map("setup_s" -> "s", "ops_per_s" -> "1/s", "erase_s_p50" -> "s",
    "erase_s_tail" -> "s", "write_amp" -> "ratio", "space_amp" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(work)
    Log(s"$name: session built")
    val tracer = new Tracer(spark, trace)
    val rec = new Recorder
    // seconds spent generating cached benchmark input: not setup
    var inputS = 0.0
    val ctx = new Ctx(spark, seed, work, tracer, rec)
    val wl: Workload = name match {
      case "lake_cdc" => new LakeCdc(ctx)
      case "pii_erase" => new PiiErase(ctx)
      case "query_mix" =>
        val (dir, genS) = Corpus.ensure(spark, Paths.get(need("cache")))
        inputS = genS
        new QueryMix(ctx, dir, opt.get("record").map(Paths.get(_)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup()
    Log(s"$name: setup done, window opens")
    // setup: JVM start, session build, state build and warm-up
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - inputS

    rec.timing = true
    /** Whole steps until `seconds` have passed; returns the window length. */
    def window(): Double = {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) wl.step()
      (System.nanoTime() - t0) / 1e9
    }
    val windowS = window()
    Log(s"$name: window closed")
    val jvm = if (!trace) Map.empty[String, Double] else {
      tracer.openWindow()
      window()
      tracer.closeWindow()
    }
    rec.timing = false

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(rec, wl, setupS, windowS)
      else {
        val layers = tracer.layerMetrics() ++ jvm ++ overhead(rec)
        opt.get("trace-out").foreach(p => tracer.writeTrace(Paths.get(p)))
        layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, layerUnit(k)) }
      }
    spark.stop()
    Log(s"$name: session stopped")
    // detail line: sample counts, the tail percentiles and failures
    println(Json.obj(Seq(
      "samples" -> Json.obj(rec.samples.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v.size) }),
      "tail_pct" -> Json.obj(Seq("commit", "read", "erase").map(c =>
        c -> Json.num(Tail.pct(rec.of(c).size)))),
      "window_s" -> Json.num(windowS),
      "failures" -> rec.failures.map(Json.str).mkString("[", ",", "]"))))
    println(Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> Json.num(rec.attempted),
      "failed" -> Json.num(rec.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.lake.sql.GraftSqlCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("lake").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def endToEnd(rec: Recorder, wl: Workload, setupS: Double,
      windowS: Double): Seq[(String, Double, String)] = {
    def lat(cls: String, scale: Double): Seq[(String, Double)] = {
      val xs = rec.of(cls)
      val p = Tail.pct(xs.size)
      if (xs.isEmpty) Nil
      else Seq(s"${prefix(cls)}_p50" -> Stats.median(xs) * scale,
        s"${prefix(cls)}_tail" -> Stats.pct(xs, p) * scale)
    }
    val values = Map("setup_s" -> setupS,
      "ops_per_s" -> rec.completed.toDouble / (windowS - rec.sideS)) ++
      lat("commit", 1) ++ lat("read", 1) ++ lat("erase", 1e-3) ++
      wl.extraMetrics()
    EndToEnd.filter(values.contains).map(k =>
      (k, values(k), Units.getOrElse(k, "ms")))
  }

  private def prefix(cls: String) = cls match {
    case "erase" => "erase_s"
    case c => s"${c}_ms"
  }

  /** Tracing overhead: median latency of traced minus untraced operations,
    * per operation class. */
  private def overhead(rec: Recorder): Map[String, Double] =
    Seq("commit", "read", "erase").map { c =>
      val a = rec.of(s"traced.$c"); val b = rec.of(c)
      s"trace.${c}_overhead_ms" ->
        (if (a.isEmpty || b.isEmpty) 0.0 else Stats.median(a) - Stats.median(b))
    }.toMap

  private def layerUnit(k: String): String =
    if (k.endsWith("_ms") || k.endsWith("_ms_per_call")) "ms"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("_mb")) "MiB"
    else if (k.endsWith("_frac") || k.endsWith("_per_row_returned") ||
      k.endsWith("_per_row_erased")) "ratio"
    else "count"
}

/** The tail percentile: the highest of p99/p95/p90/p75 that leaves at
  * least ten samples beyond it, else p50. */
object Tail {
  def pct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
}
