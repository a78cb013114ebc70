package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** vec_dot(a, b): dot product of two numeric arrays in double
  * precision, as a native codegen'd Catalyst expression.
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions evaluate
  * interpreted, one closure dispatch + boxing per element — measured
  * ~200µs per 64-dim pair, which turns a 400k-pair similarity join
  * into minutes of CPU. This expression compiles to a tight primitive
  * loop inside WholeStageCodegen (~100ns/pair): the difference between
  * "embedding similarity works in a demo" and "embedding similarity
  * works on 10^9 vectors".
  *
  * Semantics match DuckDB's list_dot_product over DOUBLE[] for oracle
  * parity: each element widens to double (exact for floats), products
  * accumulate sequentially in double. Arrays of unequal length dot
  * over the common prefix; null ELEMENTS are treated as 0 (embeddings
  * never contain them — parquet just marks the slot nullable).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0
        else if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0
        else if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      def get(arr: String, idx: String, isFloat: Boolean) =
        if (isFloat) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      val lGet = get(l, i, elemIsFloat(left))
      val rGet = get(r, i, elemIsFloat(right))
      s"""
         |final int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$l.isNullAt($i) && !$r.isNullAt($i)) {
         |    $s += $lGet * $rGet;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** simhash64(tokens): 64-bit SimHash of an array of strings in one
  * pass — bit i of the result is set iff the sum of ±1 contributions
  * of each token's xxhash64 bit i is positive. Token hashes use
  * Spark's own XXH64 with the builtin xxhash64 seed (42), so the
  * result is bit-identical to the relational formulation
  * (explode × 64 bit rows → two groupBys) while doing 64× less row
  * traffic and zero shuffles. Null tokens are skipped.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<string>, got ${dt.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          cnt(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |final int[] $cnt = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    final long $h = $xxh.hashUTF8String($c.getUTF8String($i), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $cnt[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($cnt[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** vec_signpack(v, offset): packs the sign bits of 32 consecutive
  * elements of a numeric array into a BIGINT — bit i is set iff
  * v[offset + i] > 0. Two calls (offset 0 and 32) binary-quantize a
  * 64-dim embedding into the pair of Hamming codes q_sim_topk_hamming
  * ranks on; 32-bit halves (rather than one 64-bit word) keep every
  * shift in the oracle's integer range too. The interpreted
  * `aggregate(sequence(...))` formulation allocates the 32-element
  * sequence and boxes the accumulator per row; this compiles to a
  * tight allocation-free primitive loop in WholeStageCodegen.
  * Measured (2M cached 64-dim rows, local[4]):
  * ~1.3x over the HOF — modest at this dimensionality because the
  * loop is only 32 iterations; the kernel's main value is keeping the
  * packing pass allocation-free inside the scan stage, where at 10^9
  * vectors the HOF's per-row garbage becomes GC pressure the loop
  * never creates. Null and missing elements contribute a 0 bit.
  */
case class SignPack(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
      if (!right.foldable) TypeCheckResult.TypeCheckFailure(
        "vec_signpack offset must be a literal")
      else right.eval() match {
        // Negative offsets would index before the array start (raw
        // UnsafeArrayData reads have no bounds checks); offsets near
        // Int.MaxValue would overflow off+31 back to negative.
        case off: Int if off < 0 || off > Int.MaxValue - 31 =>
          TypeCheckResult.TypeCheckFailure(
            s"vec_signpack offset must be in [0, ${Int.MaxValue - 31}], got $off")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_signpack needs (array<float|double>, int literal), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_signpack"

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val off = b.asInstanceOf[Int]
    val n = arr.numElements()
    var out = 0L
    var i = 0
    while (i < 32) {
      val j = off + i
      if (j >= 0 && j < n && !arr.isNullAt(j)) {
        val v = if (elemIsFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
        if (v > 0.0) out |= (1L << i)
      }
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, off) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val get =
        if (elemIsFloat) s"(double) $arr.getFloat($j)"
        else s"$arr.getDouble($j)"
      s"""
         |final int $n = $arr.numElements();
         |long $out = 0L;
         |for (int $i = 0; $i < 32; $i++) {
         |  final int $j = $off + $i;
         |  if ($j >= 0 && $j < $n && !$arr.isNullAt($j) && $get > 0.0) {
         |    $out |= (1L << $i);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignPack =
    copy(left = newLeft, right = newRight)
}

/** pq_encode(q, cb): product-quantization encoder over an
  * integer-quantized vector — returns array<bigint> [packedCodes,
  * qerr]. Contract: M=8 subspaces, K=16 codewords (4-bit codes, so the
  * 8 codes pack into the low 32 bits of one BIGINT, code m at bits
  * [4m, 4m+4)); D = len(q)/8 dims per subspace; cb is the codebook
  * flattened as cb[(m*16 + k)*D + d]. qerr is the summed squared-L2
  * distance to the selected codewords. Ties take the smallest k;
  * null/missing elements read as 0 (same zero-fill rule as
  * vec_signpack).
  *
  * Why a kernel: the HOF formulation (nested transform/aggregate,
  * 8x16x8 lambda evaluations per row, re-inlined by CollapseProject
  * into every consumer) measured ~40 ms/row interpreted — 88 s for
  * 2k vectors at sf0.1, pure closure dispatch + boxing. This loop is
  * ~2k primitive int ops inside WholeStageCodegen. At 10^9 vectors
  * PQ encoding touches every row of the corpus; it must run at scan
  * speed.
  */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // the analyzer coerces narrower integral arrays (array<int>, …) up
  // to array<bigint> before checkInputDataTypes runs; fractional and
  // non-array inputs still fail with the message below. (No explicit
  // Seq[AbstractDataType] annotation — that type is private[sql] in
  // Spark 4; covariance lets the inferred narrower type conform.)
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs (array<bigint> vector, array<bigint> codebook), " +
        s"got ${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val n = q.numElements()
    val ncb = cb.numElements()
    val d = n / 8
    var codes = 0L
    var qerr = 0L
    var m = 0
    while (m < 8) {
      var bestD = Long.MaxValue
      var bestK = 0
      var k = 0
      while (k < 16) {
        var s = 0L
        var i = 0
        while (i < d) {
          val qi = m * d + i
          val ci = (m * 16 + k) * d + i
          val qv = if (qi < n && !q.isNullAt(qi)) q.getLong(qi) else 0L
          val cv = if (ci < ncb && !cb.isNullAt(ci)) cb.getLong(ci) else 0L
          val diff = qv - cv
          s += diff * diff
          i += 1
        }
        if (s < bestD) { bestD = s; bestK = k }
        k += 1
      }
      codes |= bestK.toLong << (4 * m)
      qerr += bestD
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Long](codes, qerr))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, cb) => {
      val n = ctx.freshName("n")
      val ncb = ctx.freshName("ncb")
      val d = ctx.freshName("d")
      val codes = ctx.freshName("codes")
      val qerr = ctx.freshName("qerr")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val qi = ctx.freshName("qi")
      val ci = ctx.freshName("ci")
      val diff = ctx.freshName("diff")
      val bestD = ctx.freshName("bestD")
      val bestK = ctx.freshName("bestK")
      s"""
         |final int $n = $q.numElements();
         |final int $ncb = $cb.numElements();
         |final int $d = $n / 8;
         |long $codes = 0L;
         |long $qerr = 0L;
         |for (int $m = 0; $m < 8; $m++) {
         |  long $bestD = Long.MAX_VALUE;
         |  int $bestK = 0;
         |  for (int $k = 0; $k < 16; $k++) {
         |    long $s = 0L;
         |    for (int $i = 0; $i < $d; $i++) {
         |      final int $qi = $m * $d + $i;
         |      final int $ci = ($m * 16 + $k) * $d + $i;
         |      final long $diff =
         |        (($qi < $n && !$q.isNullAt($qi)) ? $q.getLong($qi) : 0L)
         |        - (($ci < $ncb && !$cb.isNullAt($ci)) ? $cb.getLong($ci) : 0L);
         |      $s += $diff * $diff;
         |    }
         |    if ($s < $bestD) { $bestD = $s; $bestK = $k; }
         |  }
         |  $codes |= ((long) $bestK) << (4 * $m);
         |  $qerr += $bestD;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$codes, $qerr});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** pq_adc(codes, lut): asymmetric-distance scoring against packed PQ
  * codes — sum over the 8 subspaces of lut[16*m + code_m], where lut
  * is the query's flattened (subspace, codeword) distance table and
  * code_m is the 4-bit code at bits [4m, 4m+4) of `codes` (the
  * pq_encode packing). Out-of-range LUT slots read as 0. Eight array
  * loads + adds per row inside WholeStageCodegen — the serving-path
  * twin of pq_encode.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // coerce narrower integral codes / LUT element types up to bigint,
  // mirroring PqEncode (inferred type: AbstractDataType is private[sql])
  override def inputTypes = Seq(LongType, ArrayType(LongType))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (LongType, ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc needs (bigint codes, array<bigint> lut), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Long]
    val lut = b.asInstanceOf[ArrayData]
    val n = lut.numElements()
    var s = 0L
    var m = 0
    while (m < 8) {
      val idx = 16 * m + ((codes >>> (4 * m)) & 15L).toInt
      if (idx < n && !lut.isNullAt(idx)) s += lut.getLong(idx)
      m += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $lut.numElements();
         |long $s = 0L;
         |for (int $m = 0; $m < 8; $m++) {
         |  final int $idx = 16 * $m + (int) (($codes >>> (4 * $m)) & 15L);
         |  if ($idx < $n && !$lut.isNullAt($idx)) $s += $lut.getLong($idx);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}
