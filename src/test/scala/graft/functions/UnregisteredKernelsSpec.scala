package graft.functions

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite

/** One physical path per kernel: on a session whose function registry
  * holds none of the eight graft kernel names, every kernel-backed
  * query still plans its native kernel and returns exactly the shared
  * session's rows. The queries build the kernels directly as Columns,
  * so nothing depends on how the session was wired.
  */
class UnregisteredKernelsSpec extends SparkSuite {
  /** The smoke-scale corpus: the directory SparkEntry.entry reads. */
  private lazy val dir = java.nio.file.Paths.get(java.net.URI.create(
    graft.SparkEntry.entry(spark).inputFiles.head)).getParent.toString

  private val kernelOf = Seq(
    "q_dedup_simhash" -> "simhash64",
    "q_dedup_embedding_cosine" -> "vec_dot",
    "q_func_ngrams_native" -> "ngrams",
    "q_text_langid_chargram" -> "chargrams",
    "q_sim_topk_hamming" -> "vec_signpack",
    "q_sim_topk_adc" -> "pq_adc",
    "q_pipe_bloom_decontaminate" -> "bloom_might_contain")

  private val registered = Seq("vec_dot", "simhash64", "vec_signpack",
    "pq_encode", "pq_adc", "ngrams", "chargrams", "bloom_might_contain")

  /** Executed plans of every action the bare session runs — eager
    * localCheckpoints included, which is where some kernels execute. */
  private val plans = new ConcurrentLinkedQueue[(QueryExecution, String)]

  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    registered.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    s
  }

  test("the bare session resolves none of the graft functions") {
    registered.foreach(n =>
      assert(!bare.catalog.functionExists(n), s"$n still registered"))
    assert(spark.catalog.functionExists("vec_dot"),
      "dropping from the bare session must not touch the shared one")
  }

  kernelOf.foreach { case (q, kernel) =>
    test(s"$q plans $kernel and returns the shared session's rows " +
      "on the bare session") {
      val expected = graft.SparkEntry.queries(q)(spark, dir).collect().toSeq
      plans.clear()
      val df = graft.SparkEntry.queries(q)(bare, dir)
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$q returned no rows")
      assert(rows === expected)
      // listener events arrive asynchronously and in order: once the
      // final collect's plan is in, every earlier action's is too
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_._1 eq df.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val executed = plans.asScala.map(_._2).toSeq
      assert(executed.nonEmpty, s"no executed plan reported for $q")
      assert(executed.exists(_.contains(s"$kernel(")),
        s"$kernel missing from every executed plan of $q:\n" +
          executed.mkString("\n---\n"))
    }
  }
}
