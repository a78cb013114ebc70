package graft.rel

import graft.SparkSuite
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Scale primitives: bucketed joins must drop BOTH exchanges; salted
  * aggregation must match the direct aggregation exactly.
  */
class ScaleSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("bucketed co-partitioned join plans with no Exchange on either side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Scale.bucketize(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", 8, Seq("o_orderkey"))
      Scale.bucketize(Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity"),
        "b_lineitem", 8, Seq("l_orderkey"))
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        "bucketed join still shuffles:\n" + plan)
      assert(!plan.contains("BroadcastExchange"))
      // SelectedBucketsCount proves the scan read bucket metadata
      assert(plan.contains("Bucketed: true"), plan)
      // and the result matches the plain join
      val want = Tables.lineitem(spark, dir).join(
        Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == want)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("AQE splits a skewed sort-merge join at runtime: the hot-key " +
    "partition subdivides (skew=true in the final plan), result " +
    "unchanged — the join-side complement to saltedAgg") {
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def put(k: String, v: String): Unit = spark.conf.set(k, v)
    put("spark.sql.adaptive.enabled", "true")
    put("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds lowered so the synthetic hot key qualifies as skewed
    // at test scale — on a real cluster the defaults (factor 5,
    // 256 MB) fire on genuinely pathological keys only
    put("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    put("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "16384")
    put("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    put("spark.sql.adaptive.coalescePartitions.enabled", "false")
    put("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      import spark.implicits._
      // 200k rows, ~50% on ONE key — the shape AQE skew-join exists
      // for: one reducer would take half the join alone
      val left = spark.range(200000)
        .select(when($"id" % 2 === 0, lit(7L)).otherwise($"id").as("k"),
          $"id".as("v"))
      val right = spark.range(64).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = left.join(right, "k")
      // execute THIS QueryExecution (count() would plan a separate
      // one and leave joined's adaptive plan unexecuted)
      val got = joined.collect().length.toLong
      // expected: key 7 matches 100000 left rows x 1 right row; odd
      // ids < 64 match once each (32 of them)
      val want = 100000L + (1 until 64 by 2).size
      assert(got == want, s"skew-join result drifted: $got != $want")
      // the FINAL adaptive plan must show the skew split
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE did not mark the hot partition as skewed:\n" + finalPlan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted aggregation equals direct aggregation on the skewed key") {
    val ev = Tables.events(spark, dir)
    val direct = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Scale.saltedAgg(ev, Seq("user_id"), 16)(
      Seq(count(lit(1)).as("n"), sum(col("value")).as("s")),
      Seq(sum(col("n")).as("n"), round(sum(col("s")), 2).as("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("KMV two-level salted K-smallest at 1M keys: level 1 bounds " +
    "every candidate set, and the result is exactly the single-level " +
    "global K-smallest") {
    val K = 256
    import spark.implicits._
    // 1M distinct keys over 4 slices — the shape where a single
    // per-slice window would put 250k hashes on one reducer
    val hashed = spark.range(0, 1000000L, 1, 16)
      .select(concat(lit("s"), pmod(col("id"), lit(4))).as("slice"),
        conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("slice"), pmod(col("h"), lit(32))).orderBy("h")
    val lvl1 = hashed.withColumn("rk", row_number().over(w1))
      .filter(col("rk") <= K).drop("rk")
    val l1Sizes = lvl1.groupBy("slice").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(l1Sizes.values.forall(_ <= 32L * K),
      s"level-1 survivor sets not bounded: $l1Sizes")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("slice").orderBy("h")
    val two = lvl1.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= K)
      .select("slice", "h").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val one = hashed.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= K)
      .select("slice", "h").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(two === one,
      "two-level K-smallest must equal the global K-smallest per slice")
  }

  /** 1M hashes over slices s0-s3 with duplicates (600k distinct keys)
    * and nulls, a 100-key slice, and an all-null slice. */
  private def bottomKInput(parts: Int) = {
    val h = conv(substring(md5(pmod(col("id"), lit(600000L))
      .cast("string")), 1, 15), 16, 10).cast("long")
    spark.range(0, 1000000L, 1, parts)
      .select(
        when(col("id") < 100, lit("tiny"))
          .when(col("id") < 200, lit("nulls"))
          .otherwise(concat(lit("s"), pmod(col("id"), lit(4)))).as("slice"),
        when(col("id").between(100, 199) || pmod(col("id"), lit(97)) === 0,
          lit(null).cast("long")).otherwise(h).as("h"))
  }

  private def bottomKBySlice(df: org.apache.spark.sql.DataFrame, k: Int)
      : Map[String, Seq[Long]] =
    df.groupBy("slice").agg(Kmv.bottomK(col("h"), k)).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

  test("Kmv.bottomK equals the kSmallest ladder over the distinct " +
    "non-null input at 1M keys, with duplicates, nulls and groups " +
    "smaller than k") {
    val in = bottomKInput(16)
    for (k <- Seq(2, 256)) {
      val ladder = Kmv.kSmallest(in.where(col("h").isNotNull).distinct(),
        k, Seq("slice")).collect()
        .groupBy(_.getString(0))
        .map { case (s, rs) => s -> rs.map(_.getLong(1)).sorted.toList }
      val got = bottomKBySlice(in, k)
      assert(got("nulls") === Nil, "an all-null group keeps nothing")
      assert(got.removed("nulls") === ladder, s"k=$k")
      assert(got("tiny").size === (if (k == 2) 2 else 98),
        "a group smaller than k keeps all of its distinct values")
    }
  }

  test("Kmv.BottomK's buffer never holds more than k values, through " +
    "reduce and merge") {
    val k = 8
    val agg = new Kmv.BottomK(k)
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(5000)(rnd.nextInt(3000).toLong - 1000L)
    val parts = values.grouped(700).map { vs =>
      vs.foldLeft(agg.zero) { (b, v) =>
        val out = agg.reduce(b, v)
        assert(out.length <= k)
        assert(out.toSeq === out.toSeq.distinct.sorted)
        out
      }
    }.toSeq
    val merged = parts.reduce { (a, b) =>
      val out = agg.merge(a, b)
      assert(out.length <= k)
      out
    }
    assert(agg.reduce(merged, null) eq merged, "a null changes nothing")
    assert(agg.finish(merged).toSeq === values.distinct.sorted.take(k))
  }

  test("Kmv.bottomK does not depend on partitioning (the merge law)") {
    val want = bottomKBySlice(bottomKInput(16), 256)
    for (parts <- Seq(1, 7)) {
      val in = bottomKInput(16).repartition(parts, rand(parts))
      assert(bottomKBySlice(in, 256) === want, s"$parts partitions")
    }
  }
}
