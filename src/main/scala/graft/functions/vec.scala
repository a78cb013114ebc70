package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Column helpers for vector math over array<float> embedding columns.
  *
  * Each helper builds its native codegen'd kernel ([[DotProduct]],
  * [[SignPack]], [[PqEncode]], [[PqAdc]]) directly as a Column, so the
  * kernel is the one physical path on every session — the helpers need
  * no function registration and never consult the session catalog.
  */
object vec {

  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** 32 sign bits of `a` from 0-based `offset`, packed into a long. */
  def signpack(a: Column, offset: Int): Column =
    column(SignPack(expression(a), Literal(offset)))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** PQ encode of an integer-quantized vector against a flattened
    * codebook (layout cb[(m*16 + k)*D + d], M=8/K=16 contract):
    * array<bigint> [packedCodes, qerr]. */
  def pqEncode(q: Column, cb: Array[Long]): Column =
    column(PqEncode(expression(q), expression(lit(cb))))

  /** ADC scoring of packed PQ codes against a flattened query LUT
    * (lut[16*m + k]). */
  def pqAdc(codes: Column, lut: Column): Column =
    column(PqAdc(expression(codes), expression(lut)))
}
