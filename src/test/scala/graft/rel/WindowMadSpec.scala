package graft.rel

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** q_window_mad's anomaly filter and MAD are total under ANSI: on a
  * window shorter than 5 they yield NULL (no anomaly) instead of an
  * out-of-bounds error, so the result never depends on the order the
  * optimizer evaluates the filter's conjuncts in. */
class WindowMadSpec extends SparkSuite {
  import spark.implicits._

  test("anomaly filter and mad are NULL, not an ANSI error, on windows " +
    "shorter than 5") {
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    val rows = Seq((7L, Seq(5L, 1L, 3L)), (7L, Seq.empty[Long]),
      (100L, (1L to 10L).reverse))
    val df = ansi.createDataFrame(rows).toDF("vi", "winr")
    val got = df.select(expr(WindowQueries.madIsAnomaly).as("anomaly"),
      expr(WindowQueries.madOfWindow).as("mad")).collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    // full window 1..10: median 5, deviations' lower median 2, and
    // |100 - 5| > 3 * 2
    assert(got(2).getBoolean(0) && got(2).getLong(1) == 2L)
    // the 0-based s[4] form this replaced raises under ANSI
    intercept[Exception](df.select(expr(
      "transform(array(sort_array(winr)), s -> s[4])[0]")).collect())
    // the filter drops short windows instead of failing
    assert(df.filter(expr(WindowQueries.madIsAnomaly))
      .select(col("vi")).as[Long].collect().toSeq === Seq(100L))
  }
}
