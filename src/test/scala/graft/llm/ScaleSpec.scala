package graft.llm

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Scale-shape proofs that can only be demonstrated, not inspected:
  * the shared test session caps spark.driver.maxResultSize at 32 MiB
  * (SparkSuite), so any code path that materializes O(data) on the
  * driver fails these tests loudly.
  */
class ScaleSpec extends SparkSuite {

  test("substring rewrite survives a 200k-fold duplicated boilerplate " +
    "gram: min-based first-occurrence selection never builds a " +
    "per-gram window partition") {
    import spark.implicits._
    // every doc opens with the same 5-token boilerplate; tails are
    // unique. The boilerplate gram occurs 200k times — a row_number
    // formulation would funnel all 200k occurrences through ONE
    // window partition; the partial-min shape combines them map-side.
    val docs = spark.range(0, 200000L)
      .select(col("id").as("doc_id"),
        concat(lit("terms of service apply here "),
          concat_ws(" ", col("id").cast("string"),
            (col("id") * 7919).cast("string"),
            (col("id") * 104729).cast("string"))).as("text"))
    val out = DedupQueries.substringRewriteOver(docs)
    // distributed validation only (32m driver cap stands guard):
    // doc 0 keeps everything; every other doc loses >= the 5
    // boilerplate tokens, never its unique tail
    val stats = out.agg(
      count(lit(1)).as("n"),
      sum(when(col("removed_tokens") >= 5L, 1L).otherwise(0L)).as("cut"),
      sum(when(col("doc_id") === 0L && col("removed_tokens") === 0L,
        1L).otherwise(0L)).as("first_intact")).collect().head
    assert(stats.getLong(0) == 200000L)
    assert(stats.getLong(1) == 199999L,
      "every doc but the global first must lose the boilerplate span")
    assert(stats.getLong(2) == 1L, "doc 0 must keep its text whole")
  }

  test("distributed cluster resolution completes on a >1M-edge pair set" +
    " without collecting the label set to the driver") {
    assert(spark.conf.get("spark.driver.maxResultSize") == "32m",
      "guard conf missing — this test would prove nothing")
    // 8M nodes in chains of four (0-1-2-3, 4-5-6-7, ...): 6M edges,
    // above the 1M localThreshold, so the adaptive router MUST take
    // the distributed min-label branch. Collecting the 8M-row label
    // output serializes >32 MiB of (lz4-compressed) task results and
    // aborts — proven by the intercept below.
    val pairs = spark.range(0, 8000000L)
      .filter(col("id") % 4 =!= 3)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val out = PipelineQueries.clusterPairs(spark, pairs)
    // Validate with distributed actions only (no driver materialize):
    // every node labeled by its chain head, exactly one keeper each.
    val stats = out.agg(
      count(lit(1)).as("n"),
      sum(when(col("cluster_id") === (col("doc_id") - col("doc_id") % 4),
        1L).otherwise(0L)).as("correct_label"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("keepers")).head()
    assert(stats.getLong(0) == 8000000L)
    assert(stats.getLong(1) == 8000000L,
      "every doc must carry its chain-head min label")
    assert(stats.getLong(2) == 2000000L, "exactly one keeper per chain")
    // Negative proof that the guard is binding at this volume: an
    // explicit driver materialize of the same output DOES trip the
    // 32 MiB cap — i.e. the pre-fix collect-based handoff could not
    // have passed this test.
    val e = intercept[org.apache.spark.SparkException](out.collect())
    assert(e.getMessage.contains("maxResultSize") ||
      e.getMessage.contains("bigger than"), e.getMessage)
  }

  test("IVF-PQ training at 100k vectors stays metadata-bounded on the " +
    "driver: every collect is k-bounded (centroids, codebook sums) " +
    "under the 32 MiB cap, and serving yields a full top-10") {
    // 100k deterministic 64-dim vectors in [-1, 1] — 200x the sf0.01
    // corpus the trainers usually see; the 32m maxResultSize cap
    // (SparkSuite) proves no training step materializes O(corpus)
    val emb = spark.range(0, 100000L, 1, 16)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), d -> " +
          "CAST((pmod(hash(id, d), 2001) - 1000) / 1000.0 AS FLOAT))")
          .as("embedding"))
    val (model, rbase) = SimilarityQueries.ivfPqTrain(spark, emb)
    assert(model.cents.length == 8 &&
      model.cents.forall(_.length == 64))
    assert(model.cb.length == 8 * 16 * 8)
    // the trained codebook must differ from the lattice seed (the
    // corpus is nothing like the lattice) — training actually ran
    assert(model.cb.toSeq != SimilarityQueries.pqCodebook.toSeq)
    // coarse cells genuinely partition the corpus
    val cells = rbase.select("cell").distinct().count()
    assert(cells >= 4, s"only $cells coarse cells used")
    // serving: probes + per-cell LUTs from the model, ADC over the
    // probed cells, top-10 — all distributed, 10-row collect
    val qv = rbase.filter(col("vec_id") === 0)
      .select("q").collect().head.getSeq[Long](0).toArray
    val plan = SimilarityQueries.ivfPqQueryPlan(model, qv, 2)
    import graft.functions.vec
    val top = rbase.filter(col("vec_id") =!= 0)
      .filter(col("cell").isin(plan.map(p => Long.box(p._1)): _*))
      .withColumn("codes",
        element_at(vec.pqEncode(col("r"), model.cb), 1))
      .withColumn("adc", SimilarityQueries.ivfPqAdcCol(plan))
      .orderBy("adc", "vec_id").limit(10)
      .select("vec_id").collect()
    assert(top.length == 10)
  }
}
