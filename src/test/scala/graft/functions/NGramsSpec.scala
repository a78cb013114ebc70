package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The native [[NGrams]] generator against its HOF reference twin
  * ([[NGramsSpec.ngramsHof]]): bit-equal gram streams on the real corpus,
  * identical edge semantics (NULL text, sub-n-token docs, consecutive
  * separators), and the analysis guards for bad arguments.
  */
class NGramsSpec extends SparkSuite {
  import spark.implicits._

  test("generator output is bit-identical to the HOF form on the " +
    "documents corpus, with multiplicity") {
    val docs = graft.rel.Tables
      .documents(spark, "/root/testdata/sf0.01")
    def counts(c: org.apache.spark.sql.Column) = docs.select(c.as("g"))
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val native = counts(call_function("ngrams", col("text"), lit(3)))
    val hof = counts(NGramsSpec.ngramsHof(col("text"), 3))
    assert(native.nonEmpty)
    assert(native === hof)
  }

  test("edge semantics: NULL and short docs emit nothing, consecutive " +
    "separators keep empty tokens like split(text, ' ')") {
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b"),          // shorter than n=3: nothing
      (3L, null.asInstanceOf[String]), // NULL: nothing
      (4L, "a  b c")        // double space: empty middle token
    ).toDF("id", "text")
    def rows(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("g")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val native = rows(call_function("ngrams", col("text"), lit(3)))
    assert(native === Seq((1L, "a b c"), (1L, "b c d"),
      (4L, " b c"), (4L, "a  b")))
    assert(native === rows(NGramsSpec.ngramsHof(col("text"), 3)))
  }

  test("analysis guards: non-positive or non-literal n is rejected") {
    val df = Seq("a b c").toDF("text")
    val neg = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("ngrams", col("text"), lit(0))).collect()
    }
    assert(neg.getMessage.contains("positive"))
    val nonLit = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("ngrams", col("text"),
        length(col("text")))).collect()
    }
    assert(nonLit.getMessage.contains("foldable") ||
      nonLit.getMessage.contains("DATATYPE_MISMATCH"))
  }
}

object NGramsSpec {

  /** HOF twin of the native ngrams generator (explode of the
    * materialized gram array) — the spec's bit-equality reference.
    * NULL and sub-n-token inputs emit no rows, exactly like the
    * generator (size(NULL) = -1 takes the empty branch; sequence()
    * would otherwise count DOWN for short docs). */
  def ngramsHof(text: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    val toks = split(text, " ")
    val arr = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
    explode(arr)
  }
}
