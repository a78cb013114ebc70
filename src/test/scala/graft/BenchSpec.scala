package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench never times a failed query: a query that throws while being
  * built or while executing lands in the errors map with its message,
  * and gets no time. */
class BenchSpec extends SparkSuite {

  test("a throwing query lands in errors, not in the timed queries") {
    var released = 0
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_build_fails" -> ((_, _) =>
        throw new IllegalStateException("no such table")),
      "q_run_fails" -> ((s, _) =>
        s.range(1).selectExpr("raise_error('boom \"quoted\"')")))
    val (times, errors) =
      Bench.timeQueries(spark, "unused", queries, runs = 2)(() => released += 1)
    assert(times.keySet === Set("q_ok"))
    assert(times("q_ok").size == 2 && times("q_ok").forall(_ >= 0))
    assert(errors.keySet === Set("q_build_fails", "q_run_fails"))
    assert(errors("q_build_fails") ===
      "java.lang.IllegalStateException: no such table")
    assert(errors("q_run_fails").contains("boom \"quoted\""))
    // a failing query stops after its first run; every run is released
    assert(released == 2 + 1 + 1)
  }
}
