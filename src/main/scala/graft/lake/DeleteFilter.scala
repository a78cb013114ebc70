package graft.lake

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.roaringbitmap.longlong.Roaring64Bitmap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The delete files one MOR read applies — paths and sequence numbers,
  * never delete rows: position-delete files; per equality key column,
  * its (key file, delete seq) pairs and the files' (physical) column
  * name; every `Io.uriForms` spelling of each data file → its data seq
  * (addedSnapshotId); and the session's non-default Hadoop settings (a
  * whole serialized conf is ~110 KB and ~10 ms to deserialize per task,
  * for a conf only a cache miss needs). */
final case class DeleteSet(positionFiles: Seq[String],
    keyFiles: Seq[Seq[(String, Long)]], keyColumns: Seq[String],
    dataSeq: Map[String, Long], hadoopConf: Map[String, String])

/** graft_deleted(file_path, row_index, key...): Iceberg's per-task
  * DeleteFilter as one codegen'd predicate over the scan's `_metadata`
  * lineage. True when the row's position is in a position-delete file
  * under its exact `_metadata.file_path` spelling (as captured at
  * delete time), or when its key's NEWEST delete seq is greater than
  * its file's data seq — a key re-inserted after the delete stays
  * visible. NULL keys and files missing from `dataSeq` are never
  * key-masked. Keys compare as longs (any integral width, so key files
  * written before `widenColumn` still match) or as strings. Tasks parse
  * delete files through one JVM-wide LRU, so neither the plan nor the
  * driver's work grows with delete volume. */
case class DeleteFilter(children: Seq[Expression], deletes: DeleteSet)
    extends Expression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_deleted"
  // plan strings show the lineage/key columns, never the file maps
  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val matcher = new DeleteMatcher(deletes)

  override def eval(input: InternalRow): Any =
    matcher.position(children(0).eval(input).asInstanceOf[UTF8String],
      children(1).eval(input).asInstanceOf[Long]) ||
      children.indices.drop(2).exists(i => children(i).eval(input) match {
        case null => false
        case s: UTF8String => matcher.key(i - 2, s)
        case n => matcher.key(i - 2, n.asInstanceOf[Number].longValue)
      })

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("deletes", new DeleteMatcher(deletes))
    val in = children.map(_.genCode(ctx))
    val keyTests = in.drop(2).zip(children.drop(2)).zipWithIndex.map {
      case ((k, e), i) =>
        val v = if (e.dataType == StringType) k.value else s"(long) ${k.value}"
        s" || (!${k.isNull} && $m.key($i, $v))"
    }
    ev.copy(code = code"""
      |${in.map(_.code).reduce(_ + _)}
      |boolean ${ev.value} =
      |  $m.position(${in(0).value}, ${in(1).value})${keyTests.mkString};
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DeleteFilter =
    copy(children = newChildren)
}

/** Per-task evaluation state: the current file's deleted positions and
  * data sequence, switched when `_metadata.file_path` changes, and the
  * key → newest-delete-seq maps, built on first use. */
final class DeleteMatcher(d: DeleteSet) extends Serializable {
  @transient private var file: UTF8String = _
  @transient private var positions: Roaring64Bitmap = _
  // Long.MaxValue for a file missing from dataSeq: no key masks it
  @transient private var seq: Long = Long.MaxValue
  @transient private lazy val keySeqs = d.keyFiles.zip(d.keyColumns)
    .map { case (fs, c) => DeleteFilter.keySeqs(fs, c, d.hadoopConf) }
    .toIndexedSeq

  def position(path: UTF8String, pos: Long): Boolean = {
    if (file == null || !file.equals(path)) {
      file = path.clone()
      val p = path.toString
      seq = d.dataSeq.getOrElse(p, Long.MaxValue)
      val hits = d.positionFiles.flatMap(
        DeleteFilter.positions(_, d.hadoopConf).get(p))
      positions = if (hits.size <= 1) hits.headOption.orNull
        else hits.foldLeft(new Roaring64Bitmap()) { (a, b) => a.or(b); a }
    }
    positions != null && positions.contains(pos)
  }

  def key(i: Int, k: Long): Boolean =
    keySeqs(i).getOrElse(k, Long.MinValue) > seq
  def key(i: Int, k: UTF8String): Boolean =
    keySeqs(i).getOrElse(k, Long.MinValue) > seq
}

object DeleteFilter {

  /** `graft_deleted` over the lineage columns and one key per column. */
  def apply(file: Column, pos: Column, keys: Seq[Column],
      deletes: DeleteSet): Column =
    column(DeleteFilter((file +: pos +: keys).map(expression), deletes))

  // delete files are immutable and UUID-named: a parse never goes stale
  private val cache = GraftTable.lruCache[Any, AnyRef](256)

  /** key → newest delete seq over `files`, shared by every task that
    * applies the same key files. */
  private[lake] def keySeqs(files: Seq[(String, Long)], column: String,
      conf: Map[String, String]): Map[Any, Long] = {
    val parsed = files.map { case (f, s) => keys(f, column, conf) -> s }
    cache.computeIfAbsent((files, column), _ => parsed.flatMap {
      case (ks, s) => ks.map(_ -> s) }.groupMapReduce(_._1)(_._2)(math.max))
      .asInstanceOf[Map[Any, Long]]
  }

  /** One position-delete file: file_path → deleted row positions. */
  private[lake] def positions(path: String,
      conf: Map[String, String]): Map[String, Roaring64Bitmap] =
    cache.computeIfAbsent((path, ""), _ => {
      val byFile = mutable.HashMap.empty[String, Roaring64Bitmap]
      readGroups(path, conf)(g => byFile.getOrElseUpdate(
        g.getBinary("file_path", 0).toStringUsingUTF8,
        new Roaring64Bitmap()).addLong(g.getLong("pos", 0)))
      byFile.toMap
    }).asInstanceOf[Map[String, Roaring64Bitmap]]

  /** One equality-delete file's non-NULL keys of `column`, read by the
    * file's own physical type: integral as Long, else UTF8String. */
  private def keys(path: String, column: String,
      conf: Map[String, String]): Seq[Any] =
    cache.computeIfAbsent((path, column), _ => {
      val out = Seq.newBuilder[Any]
      readGroups(path, conf) { g =>
        if (g.getFieldRepetitionCount(column) > 0) out += (g.getType
          .getType(column).asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 => g.getInteger(column, 0).toLong
          case PrimitiveTypeName.INT64 => g.getLong(column, 0)
          case _ => UTF8String.fromBytes(g.getBinary(column, 0).getBytes)
        })
      }
      out.result()
    }).asInstanceOf[Seq[Any]]

  private lazy val defaults = { val c = new Configuration(); c.size(); c }

  /** Session Hadoop settings that differ from each JVM's own defaults. */
  def sessionConf(spark: SparkSession): Map[String, String] =
    spark.sessionState.newHadoopConf().iterator.asScala
      .collect { case e if defaults.getRaw(e.getKey) != e.getValue =>
        e.getKey -> e.getValue }.toMap

  private def readGroups(path: String, entries: Map[String, String])(
      f: org.apache.parquet.example.data.Group => Unit): Unit = {
    val conf = new Configuration(defaults) // a copy: no XML re-parse
    entries.foreach { case (k, v) => conf.set(k, v) }
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).foreach(f)
    finally reader.close()
  }
}
