package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Native vec_dot kernel: SQL-resolvable via GraftExtensions, equal to
  * the interpreted HOF formulation bit-for-bit, correct on float and
  * double arrays and unequal lengths.
  */
class VecSpec extends SparkSuite {

  test("vec_dot resolves through the session extension and matches the" +
    " HOF formulation exactly") {
    assert(spark.catalog.functionExists("vec_dot"),
      "GraftExtensions not applied to the test session")
    val df = graft.rel.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50)
      .select(col("vec_id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val both = df.select(
      expr("vec_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * " +
        "CAST(y AS DOUBLE)), 0D, (acc, x) -> acc + x)").as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native=${r.getDouble(0)} hof=${r.getDouble(1)}"))
  }

  test("vec_dot handles double arrays, mixed types, unequal lengths, nulls") {
    val rows = spark.sql(
      """SELECT
        |  vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dd,
        |  vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |          array(3.0D, 4.0D)) AS fd,
        |  vec_dot(array(1.0D, 2.0D), array(10.0D)) AS uneq,
        |  vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS nul
        |""".stripMargin).collect().head
    assert(rows.getDouble(0) == 32.0)
    assert(rows.getDouble(1) == 11.0)
    assert(rows.getDouble(2) == 10.0)
    assert(rows.isNullAt(3))
  }

  test("vec_signpack matches the interpreted HOF formulation bit-for-" +
    "bit on both halves, and a hand-computed code") {
    assert(spark.catalog.functionExists("vec_signpack"))
    val df = graft.rel.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50).select(col("vec_id"), col("embedding"))
    def hof(off: Int) = expr(
      s"""aggregate(sequence(0, 31), 0L, (acc, i) ->
         |  acc + IF(element_at(embedding, i + ${off + 1}) > 0D,
         |           shiftleft(1L, i), 0L))""".stripMargin)
    val rows = df.select(
      expr("vec_signpack(embedding, 0)").as("n_lo"), hof(0).as("h_lo"),
      expr("vec_signpack(embedding, 32)").as("n_hi"), hof(32).as("h_hi"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"lo: ${r.getLong(0)} != ${r.getLong(1)}")
      assert(r.getLong(2) == r.getLong(3), s"hi: ${r.getLong(2)} != ${r.getLong(3)}")
    }
    // hand-computed: signs (+,-,0,+) from offset 0 => bits 0 and 3
    val hand = spark.sql(
      """SELECT vec_signpack(array(0.5D, -1.0D, 0.0D, 2.0D), 0) AS c,
        |  vec_signpack(array(0.5D, -1.0D, 0.0D, 2.0D), 32) AS past_end,
        |  vec_signpack(CAST(NULL AS ARRAY<DOUBLE>), 0) AS nul
        |""".stripMargin).collect().head
    assert(hand.getLong(0) == 9L) // 1<<0 | 1<<3
    assert(hand.getLong(1) == 0L) // offset beyond the array: all-zero code
    assert(hand.isNullAt(2))
    // the Column helper resolves to the same kernel values
    val viaHelper = df.select(
      vec.signpack(col("embedding"), 0).as("c")).collect()
      .map(_.getLong(0))
    val native = rows.map(_.getLong(0))
    assert(native.sameElements(viaHelper))
  }

  test("vec_signpack rejects negative and near-overflow offsets at" +
    " analysis time") {
    val neg = intercept[Exception](
      spark.sql("SELECT vec_signpack(array(1.0D), -5)").collect())
    assert(neg.getMessage.contains("offset must be in"))
    val huge = intercept[Exception](
      spark.sql(s"SELECT vec_signpack(array(1.0D), ${Int.MaxValue})")
        .collect())
    assert(huge.getMessage.contains("offset must be in"))
  }

  test("signpack HOF fallback zero-fills past the array end under ANSI," +
    " matching the native kernel") {
    val df = spark.sql("SELECT array(0.5D, -1.0D, 0.0D, 2.0D) AS a")
    val r = df.select(
      VecSpec.signpackHof(col("a"), 0).as("lo"),
      VecSpec.signpackHof(col("a"), 32).as("past_end"),
      expr("vec_signpack(a, 0)").as("n_lo"),
      expr("vec_signpack(a, 32)").as("n_past")).collect().head
    assert(r.getLong(0) == r.getLong(2) && r.getLong(0) == 9L)
    assert(r.getLong(1) == r.getLong(3) && r.getLong(1) == 0L)
  }

  test("pq_encode kernel matches the HOF fallback bit-for-bit on real " +
    "embeddings, and a hand-computed tiny case") {
    assert(spark.catalog.functionExists("pq_encode"))
    // the same lattice codebook the similarity queries use
    val cb = (for (m <- 0 until 8; k <- 0 until 16; d <- 0 until 8)
      yield ((((k * 31 + m * 17 + d * 13) % 21) - 10) * 50).toLong).toArray
    val df = graft.rel.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50)
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS " +
        "DOUBLE) * 1000) AS BIGINT))").as("q"))
    val rows = df.select(
      expr(s"pq_encode(q, ${cb.mkString("array(", "L,", "L)")})")
        .as("native"),
      VecSpec.pqEncodeHof(col("q"), cb).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"native=${r.getSeq[Long](0)} hof=${r.getSeq[Long](1)}")
    }
    // 8-dim vector (D=1): subspace m picks argmin over 16 scalars;
    // with q = all zeros, codeword value (((k*31+m*17)%21)-10)*50 —
    // best k minimizes |value|. For m=0: values ((k*31)%21-10)*50,
    // k=6 gives ((186%21)-10)*50 = (18-10)*50 = 400 ... scan says k=4:
    // (124%21-10)*50 = (19-10)*50; compute in-test instead of by hand:
    val expCodes = (0 until 8).map { m =>
      (0 until 16).minBy(k =>
        math.abs((((k * 31 + m * 17) % 21) - 10) * 50))
    }
    val expQerr = (0 until 8).map { m =>
      val v = (((expCodes(m) * 31 + m * 17) % 21) - 10) * 50L
      v * v
    }.sum
    val zero = spark.sql(
      s"""SELECT pq_encode(array(0L,0L,0L,0L,0L,0L,0L,0L),
         |  ${(for (m <- 0 until 8; k <- 0 until 16)
            yield ((((k * 31 + m * 17) % 21) - 10) * 50).toLong)
            .mkString("array(", "L,", "L)")}) AS e""".stripMargin)
      .collect().head.getSeq[Long](0)
    val packed = expCodes.zipWithIndex
      .map { case (k, m) => k.toLong << (4 * m) }.sum
    assert(zero.head == packed, s"codes ${zero.head} != $packed")
    assert(zero(1) == expQerr, s"qerr ${zero(1)} != $expQerr")
  }

  test("pq_encode edge cases: empty and sub-8-element vectors encode " +
    "as code 0 / qerr 0 in both kernel and fallback; trailing " +
    "elements beyond 8*D are ignored") {
    val cbTiny = Array.fill(128)(7L) // D = 1 codebook, all codewords 7
    def viaKernel(arr: String) = spark.sql(
      s"SELECT pq_encode($arr, ${cbTiny.mkString("array(", "L,", "L)")})" +
        " AS e").collect().head.getSeq[Long](0)
    def viaHof(arr: String) = spark.range(1)
      .select(VecSpec.pqEncodeHof(expr(arr), cbTiny).as("e"))
      .collect().head.getSeq[Long](0)
    for (empty <- Seq("array()", "array(1L, 2L, 3L)")) {
      val arr = if (empty == "array()") "CAST(array() AS ARRAY<BIGINT>)"
        else empty
      assert(viaKernel(arr) == Seq(0L, 0L), s"kernel on $empty")
      assert(viaHof(arr) == Seq(0L, 0L), s"fallback on $empty")
    }
    // 12 elements, D = 1: each subspace m reads only element m (8*D
    // slots); elements 9..12 are ignored. q[m] = 7 matches codeword 7
    // exactly -> code 0 (all codewords equal, ties to k=0), qerr 0.
    val twelve = "array(7L,7L,7L,7L,7L,7L,7L,7L,999L,999L,999L,999L)"
    assert(viaKernel(twelve) == Seq(0L, 0L))
    assert(viaHof(twelve) == Seq(0L, 0L))
  }

  test("pq_adc kernel matches the HOF fallback and scoring a vector's " +
    "own codes against its own LUT returns its qerr") {
    assert(spark.catalog.functionExists("pq_adc"))
    val cb = (for (m <- 0 until 8; k <- 0 until 16; d <- 0 until 8)
      yield ((((k * 31 + m * 17 + d * 13) % 21) - 10) * 50).toLong).toArray
    val df = graft.rel.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50)
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS " +
        "DOUBLE) * 1000) AS BIGINT))").as("q"))
      .withColumn("enc", vec.pqEncode(col("q"),
        cb))
      // own LUT: distance of q to EVERY codeword, flattened 16*m + k
      .withColumn("lut", expr(
        """flatten(transform(sequence(0, 7), m ->
          |  transform(sequence(0, 15), k ->
          |    aggregate(transform(sequence(0, 7), d ->
          |        element_at(q, 8*m + d + 1)
          |          - CAST((((k*31 + m*17 + d*13) % 21) - 10) * 50 AS BIGINT)),
          |      CAST(0 AS BIGINT), (a, x) -> a + x * x))))""".stripMargin))
    val rows = df.select(
      expr("pq_adc(element_at(enc, 1), lut)").as("native"),
      VecSpec.pqAdcHof(expr("element_at(enc, 1)"), col("lut")).as("hof"),
      expr("element_at(enc, 2)").as("qerr")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"native=${r.getLong(0)} hof=${r.getLong(1)}")
      // ADC(x, code(x)) against x's own LUT IS the quantization error:
      // the lookup selects exactly the argmin distances qerr summed
      assert(r.getLong(0) == r.getLong(2),
        s"adc=${r.getLong(0)} qerr=${r.getLong(2)}")
    }
  }

  test("pq_encode / pq_adc null inputs: HOF fallbacks return NULL " +
    "exactly like the kernels' nullSafeEval") {
    val cbTiny = Array.fill(128)(7L)
    val row = spark.range(1).select(
      expr(s"pq_encode(CAST(NULL AS ARRAY<BIGINT>), " +
        s"${cbTiny.mkString("array(", "L,", "L)")})").as("ker_enc"),
      VecSpec.pqEncodeHof(expr("CAST(NULL AS ARRAY<BIGINT>)"), cbTiny)
        .as("hof_enc"),
      expr("pq_adc(CAST(NULL AS BIGINT), array(1L, 2L))").as("ker_adc_c"),
      VecSpec.pqAdcHof(expr("CAST(NULL AS BIGINT)"), expr("array(1L, 2L)"))
        .as("hof_adc_c"),
      expr("pq_adc(0L, CAST(NULL AS ARRAY<BIGINT>))").as("ker_adc_l"),
      VecSpec.pqAdcHof(lit(0L), expr("CAST(NULL AS ARRAY<BIGINT>)"))
        .as("hof_adc_l")).collect().head
    (0 until 6).foreach(i =>
      assert(row.isNullAt(i), s"column $i (${row.schema(i).name}) " +
        s"should be NULL, got ${row.get(i)}"))
  }

  test("pq_encode / pq_adc coerce narrower integral inputs to bigint " +
    "via ImplicitCastInputTypes") {
    val cbTiny = Array.fill(128)(7L)
    // array<int> vector + int codes: analysis would fail without the
    // implicit cast; values must match the explicitly-cast forms
    val row = spark.sql(
      s"""SELECT
         |  pq_encode(array(7, 7, 7, 7, 7, 7, 7, 7),
         |    ${cbTiny.mkString("array(", "L,", "L)")}) AS enc_int,
         |  pq_adc(CAST(3 AS INT), array(10, 20, 30)) AS adc_int
         |""".stripMargin).collect().head
    assert(row.getSeq[Long](0) == Seq(0L, 0L))
    // codes=3: m=0 reads lut[3], m>=1 reads lut[16m] — all out of the
    // 3-slot LUT's range, so every subspace zero-fills
    assert(row.getLong(1) == 0L)
  }

  test("vec helpers build the native kernels directly as Columns") {
    val df = graft.rel.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(20).select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
    val nat = df.select(expr("vec_dot(a, b)").as("d")).collect().map(_.getDouble(0))
    val viaHelper = df.select(vec.dot(col("a"), col("b")).as("d"))
    assert(nat.sameElements(viaHelper.collect().map(_.getDouble(0))))
    val plan = viaHelper.queryExecution.executedPlan.toString
    assert(plan.contains("vec_dot(") && !plan.contains("ScalaUDF"), plan)
  }
}

/** Interpreted higher-order-function forms of the vector kernels — the
  * bit-equality references the specs above hold the kernels to. */
object VecSpec {

  def signpackHof(a: Column, offset: Int): Column = {
    // mirror the native kernel's analysis-time rejection: a negative
    // offset under try_element_at would silently read from the END of
    // the array (negative indexing) instead of failing
    require(offset >= 0 && offset <= Int.MaxValue - 31,
      s"signpack offset must be in [0, ${Int.MaxValue - 31}], got $offset")
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, i) =>
      // try_element_at: out-of-range indices yield null (-> 0 bit) to
      // match the native kernel's zero-fill under ANSI mode, where
      // element_at would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
      acc + when(try_element_at(a, i + lit(offset + 1)) > 0d,
        call_function("shiftleft", lit(1L), i)).otherwise(0L))
  }

  /** argmin ties to the smallest k; missing elements read 0. */
  def pqEncodeHof(q: Column, cb: Array[Long]): Column = {
    val cbCol = lit(cb)
    def dsz = (size(q) / 8).cast("int")
    // degenerate sub-8-element vectors: D = 0, the kernel's inner loop
    // is empty so every subspace scores 0 against codeword 0 — mirror
    // that here rather than letting sequence(0, -1) run descending
    val enc0 = struct(lit(0L).as("codes"), lit(0L).as("qerr"))
    val enc = aggregate(
      sequence(lit(0), lit(7)),
      struct(lit(0L).as("codes"), lit(0L).as("qerr")),
      (acc, m) => {
        val bm = aggregate(
          sequence(lit(0), lit(15)),
          struct(lit(Long.MaxValue).as("bd"), lit(0).as("bk")),
          (bacc, k) => {
            val d = aggregate(
              sequence(lit(0), dsz - 1),
              lit(0L),
              (s2, i) => {
                val diff =
                  coalesce(try_element_at(q, (m * dsz + i + 1).cast("int")),
                    lit(0L)) -
                  coalesce(try_element_at(cbCol,
                    ((m * 16 + k) * dsz + i + 1).cast("int")), lit(0L))
                s2 + diff * diff
              })
            when(d < bacc.getField("bd"),
              struct(d.as("bd"), k.as("bk"))).otherwise(bacc)
          })
        struct(
          acc.getField("codes").bitwiseOR(
            call_function("shiftleft", bm.getField("bk").cast("long"),
              (m * 4).cast("int"))).as("codes"),
          (acc.getField("qerr") + bm.getField("bd")).as("qerr"))
      })
    val encSafe = when(size(q) < 8, enc0).otherwise(enc)
    // null-in/null-out parity with the kernel's nullSafeEval: without
    // this guard a NULL vector flows through the aggregates as
    // (MaxValue, 0) garbage instead of NULL
    when(q.isNull, lit(null).cast("array<bigint>"))
      .otherwise(array(encSafe.getField("codes"), encSafe.getField("qerr")))
  }

  def pqAdcHof(codes: Column, lut: Column): Column =
    // null-in/null-out parity with the kernel's nullSafeEval: the
    // coalesce zero-fill below would otherwise turn a NULL input into
    // a spurious score of 0
    when(codes.isNull.or(lut.isNull), lit(null).cast("bigint"))
      .otherwise(aggregate(sequence(lit(0), lit(7)), lit(0L), (a, m) =>
        a + coalesce(try_element_at(lut,
          (lit(16) * m +
            call_function("shiftrightunsigned", codes, (m * 4).cast("int"))
              .bitwiseAND(lit(15L)).cast("int") + 1).cast("int")), lit(0L))))
}
