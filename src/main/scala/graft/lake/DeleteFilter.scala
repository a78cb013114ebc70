package graft.lake

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.roaringbitmap.longlong.Roaring64Bitmap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, FloatType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The delete files one MOR read applies — paths and sequence numbers,
  * never delete rows: position-delete files; per equality-key set (one
  * key tuple of any arity), its (key file, delete seq) pairs and
  * physical key columns; every `Io.uriForms` spelling of each data file
  * → its data seq (addedSnapshotId); and the session's non-default
  * Hadoop settings (a whole serialized conf is ~110 KB and ~10 ms to
  * deserialize per task, for a conf only a cache miss needs). */
final case class DeleteSet(positionFiles: Seq[String],
    keyFiles: Seq[Seq[(String, Long)]], keyColumns: Seq[Seq[String]],
    dataSeq: Map[String, Long], hadoopConf: Map[String, String])

/** graft_deleted(file_path, row_index, key...): Iceberg's per-task
  * DeleteFilter as one codegen'd predicate over the scan's `_metadata`
  * lineage and every key set's columns. True when the row's position
  * is in a position-delete file under its exact `_metadata.file_path`
  * spelling (as captured at delete time), or when a set's NEWEST delete
  * seq for the row's key tuple is greater than its file's data seq — a
  * key re-inserted after the delete stays visible. A tuple with a NULL
  * component never masks and is never masked (SQL `=`); files missing
  * from `dataSeq` are never key-masked. Key-file components are cast
  * to the read column's current type (key files written before
  * `widenColumn` still match), floats normalized as Spark normalizes
  * join keys. Tasks parse delete files through one JVM-wide cache
  * capped in bytes, so neither the plan nor the driver's work grows
  * with delete volume. */
case class DeleteFilter(children: Seq[Expression], deletes: DeleteSet)
    extends Expression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_deleted"
  // plan strings show the lineage/key columns, never the file maps
  override protected def stringArgs: Iterator[Any] = children.iterator

  /** Each key set's child ordinals. */
  private def sets: Seq[Range] = deletes.keyColumns
    .scanLeft(2 until 2)((r, c) => r.end until r.end + c.size).tail

  private def newMatcher = new DeleteMatcher(deletes,
    sets.map(_.map(children(_).dataType)))

  @transient private lazy val matcher = newMatcher

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    matcher.position(v(0).asInstanceOf[UTF8String],
      v(1).asInstanceOf[Long]) || sets.indices.exists(i =>
        sets(i).forall(v(_) != null) &&
          matcher.key(i, new GenericInternalRow(sets(i).map(v).toArray)))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("deletes", newMatcher)
    val in = children.map(_.genCode(ctx))
    // each set fills the matcher's reusable key row: no allocation
    val keyTests = sets.zipWithIndex.map { case (r, i) =>
      val row = ctx.freshName("keyRow")
      val fill = r.zipWithIndex.map { case (j, o) => children(j).dataType match {
        case t if CodeGenerator.isPrimitiveType(t) =>
          CodeGenerator.setColumn(row, t, o, in(j).value.toString)
        case _ => s"$row.update($o, ${in(j).value})" } }
      s"""
        |if (!${ev.value}${r.map(j => s" && !${in(j).isNull}").mkString}) {
        |  InternalRow $row = $m.row($i);
        |  ${fill.mkString("", ";\n  ", ";")}
        |  ${ev.value} = $m.key($i, $row);
        |}""".stripMargin
    }
    ev.copy(code = code"""
      |${in.map(_.code).reduce(_ + _)}
      |boolean ${ev.value} = $m.position(${in(0).value}, ${in(1).value});
      |${keyTests.mkString}
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DeleteFilter =
    copy(children = newChildren)
}

/** Per-task evaluation state: the current file's deleted positions and
  * data sequence, switched when `_metadata.file_path` changes, and per
  * key set a reusable key row, its normalizing projection and the key
  * → newest-delete-seq map, built on the set's first probe. */
final class DeleteMatcher(d: DeleteSet, keyTypes: Seq[Seq[DataType]])
    extends Serializable {
  @transient private var file: UTF8String = _
  @transient private var positions: Roaring64Bitmap = _
  // Long.MaxValue for a file missing from dataSeq: no key masks it
  @transient private var seq: Long = Long.MaxValue
  // a file at least as new as a set's newest delete is never probed
  private val newest = d.keyFiles.map(_.map(_._2).max).toArray
  @transient private lazy val rows =
    keyTypes.map(new SpecificInternalRow(_)).toArray
  @transient private lazy val probe = keyTypes.map(t =>
    UnsafeProjection.create(DeleteFilter.normalized(t, t))).toArray
  @transient private lazy val keySeqs =
    new Array[java.util.Map[UnsafeRow, java.lang.Long]](keyTypes.size)

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

  def row(i: Int): InternalRow = rows(i)

  def key(i: Int, row: InternalRow): Boolean = seq < newest(i) && {
    if (keySeqs(i) == null) keySeqs(i) = DeleteFilter.keySeqs(
      d.keyFiles(i), d.keyColumns(i), keyTypes(i), d.hadoopConf)
    val s = keySeqs(i).get(probe(i)(row))
    s != null && s > seq
  }
}

object DeleteFilter {

  /** `graft_deleted` over the lineage columns and every key set's
    * columns, in `deletes.keyColumns` order. */
  def apply(file: Column, pos: Column, keys: Seq[Column],
      deletes: DeleteSet): Column =
    column(DeleteFilter((file +: pos +: keys).map(expression), deletes))

  // delete files are immutable and UUID-named: a parse never goes
  // stale. Each value carries its estimated heap bytes, and the cache is
  // capped in bytes: one multi-million-key set must not take the heap.
  private[lake] val cache = new GraftTable.LruCache[Any, (AnyRef, Long)](
    Runtime.getRuntime.maxMemory / 8, _._2)
  // an UnsafeRow object, its byte[] and a map slot, past the row data
  private val RowOverhead = 96L

  /** Bound references over `from` cast to `to` (never failing: a
    * component no cast reaches reads NULL and never matches), with
    * floats normalized as Spark normalizes join keys. */
  private[lake] def normalized(from: Seq[DataType],
      to: Seq[DataType]): Seq[Expression] =
    from.zip(to).zipWithIndex.map { case ((f, t), o) =>
      val ref = BoundReference(o, f, nullable = true)
      val v = if (f == t) ref
        else Cast(ref, t, Some(SQLConf.get.sessionLocalTimeZone), EvalMode.TRY)
      if (t == FloatType || t == DoubleType) NormalizeNaNAndZero(v) else v
    }

  /** key tuple at `types` → newest delete seq over `files`, shared by
    * every task that applies the same key files at the same types.
    * Tuples with a NULL component are left out. */
  private[lake] def keySeqs(files: Seq[(String, Long)],
      columns: Seq[String], types: Seq[DataType],
      conf: Map[String, String]): java.util.Map[UnsafeRow, java.lang.Long] =
    cache.computeIfAbsent((files, columns, types), _ => {
      val out = new java.util.HashMap[UnsafeRow, java.lang.Long]()
      for ((f, s) <- files) decode(f, columns, conf) { sch =>
        val cast =
          UnsafeProjection.create(normalized(sch.map(_.dataType), types))
        r => { val k = cast(r)
          if (!k.anyNull && out.getOrDefault(k, Long.MinValue) < s)
            out.put(k.copy(), s) }
      }
      out -> out.keySet.iterator.asScala
        .map(_.getSizeInBytes + RowOverhead).sum
    })._1.asInstanceOf[java.util.Map[UnsafeRow, java.lang.Long]]

  /** One position-delete file: file_path → deleted row positions. */
  private[lake] def positions(path: String,
      conf: Map[String, String]): Map[String, Roaring64Bitmap] =
    cache.computeIfAbsent(path, _ => {
      val byFile = mutable.HashMap.empty[String, Roaring64Bitmap]
      decode(path, Seq("file_path", "pos"), conf)(_ => r =>
        byFile.getOrElseUpdate(r.getUTF8String(0).toString,
          new Roaring64Bitmap()).addLong(r.getLong(1)))
      byFile.toMap -> byFile.iterator.map { case (f, b) =>
        b.serializedSizeInBytes + 2L * f.length + RowOverhead }.sum
    })._1.asInstanceOf[Map[String, Roaring64Bitmap]]

  private lazy val defaults = { val c = new Configuration(); c.size(); c }

  /** Session Hadoop settings that differ from each JVM's own defaults. */
  def sessionConf(spark: SparkSession): Map[String, String] =
    spark.sessionState.newHadoopConf().iterator.asScala
      .collect { case e if defaults.getRaw(e.getKey) != e.getValue =>
        e.getKey -> e.getValue }.toMap

  /** Decode `columns` of one parquet file at the types it was written
    * with, as Spark's own scan would: parquet-java over Spark's
    * ParquetReadSupport, the read-side twin of the writers'
    * ParquetWriteSupport. `f` gets the columns' schema and returns the
    * row callback. */
  private def decode(path: String, columns: Seq[String],
      entries: Map[String, String])(
      f: StructType => InternalRow => Unit): Unit = {
    val conf = new Configuration(defaults) // a copy: no XML re-parse
    entries.foreach { case (k, v) => conf.set(k, v) }
    // the settings ParquetFileFormat sets on a scan's conf
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => conf.setIfUnset(e.key, e.defaultValueString))
    var row: InternalRow => Unit = null
    val support = new ParquetReadSupport() {
      override def init(context: InitContext): ReadSupport.ReadContext = {
        val c = context.getConfiguration
        val file = new ParquetToSparkSchemaConverter(c)
          .convert(context.getFileSchema)
        val sch = StructType(columns.map(file(_)))
        c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, sch.json)
        row = f(sch)
        super.init(context)
      }
    }
    val reader = ParquetReader.builder(support,
      new org.apache.hadoop.fs.Path(path)).withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .foreach(r => row(r))
    finally reader.close()
  }
}
