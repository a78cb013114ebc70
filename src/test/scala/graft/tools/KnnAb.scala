package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interleaved A/B of the exact kNN join's parallelism: as-is (the
  * single-file embeddings scan feeds one task, so the 4M-pair window
  * sort runs on one core) vs the left side repartitioned by vec_id
  * before the pair join. Interleaved A,B,A,B,... runs absorb the
  * background-load drift that made one-shot comparisons unreliable
  * (STATUS round-5 note). Run on the Bench topology: local[32],
  * shuffle=32.
  */
object KnnAb {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def emb(): DataFrame = graft.rel.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", graft.functions.vec.norm(col("v")))
    def run(e: DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.llm.SimilarityQueries.knnJoinExact(spark, e)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // B reproduces the pre-r6 plan: the pair join and rank window fed
    // directly by the single-file scan (one task does all n² pairs)
    def runOld(): Double = {
      val e = emb()
      val right = e.select(col("vec_id").as("nn_id"), col("v").as("w"),
        col("nrm").as("wn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(desc("cosd"), col("nn_id"))
      val t0 = System.nanoTime()
      e.join(broadcast(right), col("vec_id") =!= col("nn_id"))
        .select(col("vec_id"), col("nn_id"),
          graft.functions.vec.cosine(col("v"), col("w"),
            col("nrm"), col("wn")).as("cosd"))
        .withColumn("nn_rank", row_number().over(w))
        .filter(col("nn_rank") <= 3)
        .select(col("vec_id"), col("nn_rank"), col("nn_id"),
          round(col("cosd"), 4).as("cos_sim"))
        .orderBy("vec_id", "nn_rank")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(emb()); runOld()
    val a = collection.mutable.ArrayBuffer[Double]()
    val b = collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to 3) {
      a += run(emb())
      b += runOld()
    }
    def fmt(xs: Seq[Double]) =
      xs.map(t => f"$t%.2f").mkString(",") + f" min=${xs.min}%.2f"
    println(s"A shipped (repartitioned):  ${fmt(a.toSeq)}")
    println(s"B pre-r6 (single-task):     ${fmt(b.toSeq)}")
    spark.stop()
  }
}
