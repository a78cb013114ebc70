package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The query corpus at sf0.1: the TPC-H-like star schema plus the
  * events, documents and embeddings tables, with the schemas, row counts,
  * value domains and distributions of the sf0.1 test corpus graft.Bench
  * reads (perfbench/SPEC.json lists the measured properties of both;
  * perfbench/corpus_shape.py measures them). Generated by Spark
  * expressions from a fixed data seed (the workload seed only permutes
  * query order) and written, like that corpus, as one Parquet file per
  * table, so the files are the same on every run and every core count. */
object Corpus {
  val DataSeed = 20190630L
  private val Parts = 4

  /** The corpus under `cache`, generated on first use. It is input, not
    * workload state: returns the seconds spent generating it, which the
    * harness leaves out of setup time. */
  def ensure(spark: SparkSession, cache: Path): (Path, Double) = {
    val dir = cache.resolve(s"corpus-$Version")
    if (Files.exists(dir.resolve("_COMPLETE"))) return (dir, 0.0)
    val t0 = System.nanoTime()
    val tmp = cache.resolve(s"corpus-$Version.tmp-${ProcessHandle.current.pid}")
    write(spark, tmp)
    Files.writeString(tmp.resolve("_COMPLETE"), "")
    try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException |
        _: java.nio.file.DirectoryNotEmptyException => () }
    (dir, (System.nanoTime() - t0) / 1e9)
  }

  /** Bump when the generator changes, so a cached corpus is not reused. */
  private val Version = 3

  def write(spark: SparkSession, dir: Path): Unit = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, Parts).toDF()
    def h(salt: Int, cols: Column*): Column =
      xxhash64((col("id") +: cols :+ lit(DataSeed) :+ lit(salt)): _*)
    def u(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt, ((hi - lo) * 100).toLong) / 100.0, 2)
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), u(salt, days).cast("int"))
        .cast("timestamp_ntz")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
    /** A uniform double in [0, 1). */
    def unit(salt: Int, c: Column*): Column =
      pmod(xxhash64((c :+ lit(DataSeed) :+ lit(salt)): _*), lit(1L << 53)) /
        (1L << 53).toDouble

    save("region", spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"),
      (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"))
    save("nation", spark.range(0, 25, 1, 1).select(col("id").cast("int")
      .as("n_nationkey"), concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", rows(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99)
        .as("c_acctbal"), pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", rows(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(1, 25).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal")))
    save("part", rows(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Seq("hot", "old", "red", "small", "new",
        "large", "blue", "cold")), pick(2, Seq("bolt", "plate", "gear",
        "ring", "rod", "anvil", "widget", "gizmo"))).as("p_name"),
      concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
      pick(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))
        .as("p_type"), (u(5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")))
    save("orders", rows(150000).select(col("id").as("o_orderkey"),
      u(1, 15000).as("o_custkey"), pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2405).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", rows(600000).select(u(1, 150000).as("l_orderkey"),
      u(2, 20000).as("l_partkey"), u(3, 1000).as("l_suppkey"),
      (u(4, 7) + 1).cast("int").as("l_linenumber"),
      (u(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (u(7, 11) / 100.0).as("l_discount"), (u(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("O", "F")).as("l_linestatus"),
      day(11, "1995-01-02", 2499).as("l_shipdate")))
    // arrivals of a Poisson process over 30 days (uniform instants, ids in
    // time order); values exponential with mean 50
    save("events", rows(100000).select(col("id"),
      (lit(1704067200000000L) + pmod(h(1), lit(2592000000000L))).as("us"),
      u(2, 1500).as("user_id"),
      pick(3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log1p(-unit(4, col("id"))) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props"))
      .select((row_number().over(Window.orderBy("us", "id")) - 1).cast("long")
        .as("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "row", "the", "agg", "key", "query", "a", "scan", "batch")
    // 10 to 100 words each; every 20th document repeats another's words
    // plus "dup" and every 625th repeats them exactly: near and exact
    // duplicates. Documents 20b + 10 are never duplicates, so they serve
    // as the originals, each of at most one near duplicate.
    def original(shift: Int): Column =
      lit(20) * pmod(floor(col("id") / 20) * 97 + shift, lit(250)) + 10
    val baseId = when(col("id") % 625 === 2, original(131))
      .when(col("id") % 20 === 1, original(31)).otherwise(col("id"))
    val words = transform(sequence(lit(1), (pmod(xxhash64(baseId, lit(DataSeed),
      lit(1)), lit(91)) + 10).cast("int")), i => element_at(array(vocab.map(lit): _*),
      (pmod(xxhash64(baseId, i, lit(DataSeed)), lit(vocab.size)) + 1).cast("int")))
    val text = concat(concat_ws(" ", words),
      when(col("id") % 20 === 1 && col("id") % 625 =!= 2, lit(" dup"))
        .otherwise(lit("")))
    save("documents", rows(5000).select(col("id").as("doc_id"), text.as("text"),
      when(u(2, 20) < 8, lit("en")).otherwise(pick(3, Seq("es", "zh", "de", "fr")))
        .as("lang"), concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // unit vectors of independent normal components (Box-Muller); the
    // label is independent of the vector
    val normal = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * log1p(-unit(8, col("id"), j))) *
        cos(lit(2 * math.Pi) * unit(9, col("id"), j)))
    save("embeddings", rows(2000).select(col("id").as("vec_id"), normal.as("v"),
      u(1, 10).cast("int").as("label"))
      .select(col("vec_id"), transform(col("v"), x => (x / sqrt(aggregate(
        col("v"), lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label")))
  }
}
