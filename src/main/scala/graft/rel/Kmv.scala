package graft.rel

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Shared KMV/theta sketch building blocks. Four surfaces build the
  * same sketch and are contractually bit-identical (each is pinned by
  * an oracle or a spec): q_agg_kmv_theta (SketchQueries), the
  * q_stream_kmv_distinct batch twin (StreamBatchQueries), the lake
  * sketch rollup (LakeQueries), and the streaming processor's JVM-side
  * fold ([[graft.streaming.Streams.kmvHash60]], whose bit-parity with
  * [[hash60]] is pinned in StreamingSpec). The lake's column NDV
  * statistics keep the same bottom-k set through [[bottomK]] (ScaleSpec
  * pins it against the ladder). Change the hash prefix, the domain, or
  * the ladder here and every consumer moves together.
  */
object Kmv {

  /** 2^60 — the hash domain: 15 hex chars of md5, so values fit a
    * signed BIGINT identically in Spark and DuckDB. */
  val Dom = 1152921504606846976L
  val DomStr = "1152921504606846976"

  /** 60-bit md5 hash of a key column, bit-identical to the DuckDB
    * oracle's `CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1,
    * 15)) AS BIGINT)`. */
  def hash60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** Two-level salted K-smallest of `h` per slice: the salted level
    * bounds every reducer's candidate set at `salt * k` rows (no
    * reducer ever materializes a slice's full hash set), and the K
    * smallest of the union of per-salt K-smallest sets is exactly the
    * global K smallest (ScaleSpec proves both properties at 1M keys).
    * Input needs columns `slice ++ ("h")`; output keeps them. */
  def kSmallest(df: DataFrame, k: Int, slice: Seq[String],
      salt: Int = 32): DataFrame = {
    val lvl1 = df
      .withColumn("rk", row_number().over(
        Window.partitionBy(slice.map(col) :+ pmod(col("h"), lit(salt)): _*)
          .orderBy("h")))
      .filter(col("rk") <= k).drop("rk")
    lvl1
      .withColumn("rk", row_number().over(
        Window.partitionBy(slice.map(col): _*).orderBy("h")))
      .filter(col("rk") <= k).drop("rk")
  }

  /** The k smallest DISTINCT non-null values of bigint `h` per group,
    * ascending, as array<bigint> — the bottom-k set [[kSmallest]]
    * computes over a distinct input, as one aggregate: the buffer
    * ([[BottomK]]) never holds more than k values, combines map-side,
    * and merges by distinct-union-then-take-k (the KMV merge law), so
    * a grouped bottomK costs one shuffle of at most k values per group
    * per map task. For hash-only sketches; rows that carry payload
    * columns keep [[kSmallest]]. */
  def bottomK(h: Column, k: Int): Column =
    udaf(new BottomK(k), Encoders.LONG)(h)

  /** [[bottomK]]'s aggregator. The buffer is a sorted distinct array of
    * at most k values; `reduce` and `merge` may update it in place. */
  final class BottomK(k: Int)
      extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    require(k >= 1, s"bottom-k needs k >= 1, got $k")

    def zero: Array[Long] = Array.emptyLongArray

    def reduce(b: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h == null) return b
      val v = h.longValue
      val n = b.length
      if (n == k && v >= b(n - 1)) return b
      val i = java.util.Arrays.binarySearch(b, v)
      if (i >= 0) return b
      val at = -i - 1
      val out = if (n == k) b else java.util.Arrays.copyOf(b, n + 1)
      System.arraycopy(b, at, out, at + 1, out.length - at - 1)
      out(at) = v
      out
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0
      var j = 0
      var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) a(i)
          else b(j)
        if (i < a.length && a(i) == v) i += 1
        if (j < b.length && b(j) == v) j += 1
        out(n) = v
        n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Per-slice (cnt, theta) from a retained-hash table: theta is the
    * kth smallest when the sketch is full, else the whole domain (the
    * sketch is exact below k). */
  def thetaAggs(k: Int): Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    when(count(lit(1)) < k, expr(DomStr)).otherwise(max("h")).as("theta"))

  /** The KMV estimator over named `cnt`/`theta` columns:
    * (k-1) * 2^60 div theta, exact-count passthrough below k —
    * integer-only, bit-equal with the DuckDB HUGEINT `//` form. */
  def estimate(k: Int): Column =
    when(col("cnt") < k, col("cnt")).otherwise(expr(
      s"CAST((${k - 1} * CAST($DomStr AS DECIMAL(38,0))) div theta " +
        "AS BIGINT)"))
}
