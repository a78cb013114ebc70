package graft.rel

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkSuite

/** Pins the two physical encodings `events.ts` has shipped in:
  * parquet TIMESTAMP(NANOS) (pre-2026-08-13 driver testdata, readable
  * only via the legacy nanosAsLong conf) and plain timestamp[us]
  * (current testdata). Tables.events must load both to the same
  * logical column — TIMESTAMP_NTZ at microsecond precision — without
  * leaving session conf mutated on the micros path.
  */
class TablesSpec extends SparkSuite {

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  // 2024-01-02T03:04:05.123456 UTC, in micros since epoch
  private val usEpoch = 1704164645123456L

  test("events loader: TIMESTAMP(NANOS) int64 encoding") {
    val dir = graft.ScratchDirs.create("graft-ev-nanos-").toString
    val schema = Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .build()
    val gf = new SimpleGroupFactory(schema)
    Seq(1L, 2L).foreach { id =>
      val g = gf.newGroup()
      g.append("event_id", id)
      g.append("ts", (usEpoch + (id - 1) * 1000000L) * 1000L) // nanos
      writer.write(g)
    }
    writer.close()

    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampNTZType)
    val rows = df.orderBy("event_id")
      .select(unix_micros(col("ts").cast("timestamp")))
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(usEpoch, usEpoch + 1000000L))
  }

  test("events loader: timestamp[us] encoding, conf untouched") {
    val dir = graft.ScratchDirs.create("graft-ev-us-").toString
    spark.conf.unset(NanosConf)
    import spark.implicits._
    Seq(1L, 2L).toDF("event_id")
      .withColumn("ts",
        timestamp_micros(lit(usEpoch) + (col("event_id") - 1) * 1000000L)
          .cast("timestamp_ntz"))
      .write.parquet(s"$dir/events.parquet")

    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampNTZType)
    val rows = df.orderBy("event_id")
      .select(unix_micros(col("ts").cast("timestamp")))
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(usEpoch, usEpoch + 1000000L))
    // the micros path must not flip the legacy conf on the session
    assert(spark.conf.get(NanosConf, "false") === "false")
  }

  test("events loader: driver testdata resolves ts as TIMESTAMP_NTZ") {
    val sf = "/root/testdata/sf0.001"
    if (new java.io.File(s"$sf/events.parquet").exists()) {
      val df = Tables.events(spark, sf)
      assert(df.schema("ts").dataType === TimestampNTZType)
      assert(df.limit(5).count() > 0)
    }
  }

  test("embeddings encoding drift insurance: an array<double> " +
    "embeddings fixture flows through the vec kernels and the " +
    "similarity pipelines' quantization unchanged") {
    // the r7 events lesson, applied pre-emptively: if a driver refresh
    // ships embedding as list<double> instead of list<float>, every
    // consumer must keep resolving — vec_dot/vec_signpack accept both
    // element types, and the PQ/kmeans paths quantize via
    // CAST(x AS DOUBLE) which is encoding-neutral
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val dir = graft.ScratchDirs.create("emb-double-")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT")
    val rows = (0L until 4L).map(i =>
      Row(i, (0 until 64).map(d => (i + d).toDouble / 64).asJava
        .asScala.toSeq, (i % 2).toInt))
    spark.createDataFrame(rows.asJava, schema)
      .write.parquet(s"$dir/embeddings.parquet")
    val e = Tables.embeddings(spark, dir.toString)
    import graft.functions.vec
    val dots = e.select(
        vec.dot(col("embedding"), col("embedding")).as("dd"),
        vec.signpack(col("embedding"), 0).as("sp"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
          " * 1000) AS BIGINT))").as("q"))
      .collect()
    assert(dots.length == 4)
    // vec_id 0: dot = sum (d/64)^2, exactly computable
    val want = (0 until 64).map(d => math.pow(d / 64.0, 2)).sum
    val d0 = e.filter(col("vec_id") === 0)
      .select(vec.dot(col("embedding"), col("embedding")))
      .head().getDouble(0)
    assert(math.abs(d0 - want) < 1e-12)
  }
}
