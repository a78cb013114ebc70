package graft.lake.sql

import java.util.{Map => JMap, Set => JSet}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.GraftTable

/** The DataSourceV2 face of a GraftTable — what `spark.sql` resolves
  * `graft.<ns>.<table>` to. Gives the reference demo's actual UX
  * (ref notebooks/iceberg_pii_deletion_demo.py):
  *   - SELECT / time travel `VERSION AS OF` (demo.py:114,261)
  *   - INSERT INTO (demo.py:105-110) via the V1Write fallback: the
  *     driver hands the whole DataFrame to GraftTable.append, which
  *     runs the same distributed write path as the Scala API
  *   - DELETE FROM ... WHERE (demo.py:177-180) via SupportsDeleteV2
  *     (and, with GraftExtensions installed, arbitrary predicates via
  *     the interception rule in GraftSqlResolution)
  *
  * Reads are NOT served by a custom PartitionReader: GraftSqlResolution
  * replaces this relation with the composed Spark plan from
  * GraftTable.read() (manifest-pruned parquet scans + the MOR delete filter),
  * so Catalyst sees ordinary parquet relations and keeps pushdown,
  * pruning, and whole-stage codegen. The ScanBuilder below exists only
  * to satisfy the interface and fails loudly if the rule is missing.
  */
class GraftSqlTable(identName: String, val graft: GraftTable,
    val pinnedSnapshot: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2 {

  override def name(): String = identName

  override def schema(): StructType =
    pinnedSnapshot.map(graft.schemaAt).getOrElse(graft.schema)

  override def properties(): JMap[String, String] =
    graft.enrichedProperties.asJava

  override def capabilities(): JSet[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark 4's MERGE WITH SCHEMA
    // EVOLUTION: the analyzer's ResolveMergeIntoSchemaEvolution
    // computes the extra source columns and routes them through our
    // TableCatalog.alterTable (the existing ADD COLUMN physical-name
    // machinery) BEFORE the merge resolves — old snapshots keep
    // reading pre-evolution bytes exactly as with a manual ALTER.
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** Declared clustering surfaces as partitioning (identity or
    * transform) so DESCRIBE and SHOW CREATE TABLE reflect the physical
    * layout contract. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import _root_.graft.lake.{BucketField, ClusterSpec, DaysField,
      HoursField, IdentityField, MonthsField, TruncateField, YearsField}
    graft.properties.get("write.clustered-by")
      .map(ClusterSpec.parseList(_).map {
        case IdentityField(c) => Expressions.identity(c)
        case HoursField(c) => Expressions.hours(c)
        case DaysField(c) => Expressions.days(c)
        case MonthsField(c) => Expressions.months(c)
        case YearsField(c) => Expressions.years(c)
        case BucketField(n, c) => Expressions.bucket(n, c)
        case TruncateField(w, c) => Expressions.apply(
          "truncate", Expressions.literal(w), Expressions.column(c))
      }.toArray[org.apache.spark.sql.connector.expressions.Transform])
      .getOrElse(Array.empty)
  }

  /** The DataFrame this relation stands for (current or pinned). */
  def read(): DataFrame =
    pinnedSnapshot.map(graft.readAt).getOrElse(graft.read())

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () =>
    throw new IllegalStateException(
      s"GraftLake relation $identName was not substituted: register " +
        "graft.GraftExtensions via spark.sql.extensions so " +
        "GraftSqlResolution can plan the read")

  private def rejectPinnedWrite(): Unit =
    if (pinnedSnapshot.nonEmpty) throw new UnsupportedOperationException(
      s"cannot write to $identName at a pinned snapshot (VERSION AS OF)")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data, overwrite) => {
            rejectPinnedWrite()
            // one atomic replace snapshot — NOT delete-then-append,
            // which could strand the table truncated between commits
            if (overwriteAll || overwrite) graft.overwriteAll(data)
            else graft.append(data)
          }
      }
    }

  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => GraftSqlTable.v2ToCatalyst(p).isDefined)

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    rejectPinnedWrite()
    val conds = predicates.toSeq.map(p => GraftSqlTable.v2ToCatalyst(p)
      .getOrElse(throw new UnsupportedOperationException(
        s"cannot convert delete predicate $p")))
    val cond = conds.reduceOption((a, b) =>
      org.apache.spark.sql.catalyst.expressions.And(a, b))
      .getOrElse(Literal.TrueLiteral)
    // TRUNCATE TABLE arrives as an unconditional delete: commit it as
    // ONE atomic empty-overwrite snapshot — under merge-on-read an
    // unconditional graft.delete would tombstone every row of the
    // table just to truncate it
    if (cond == Literal.TrueLiteral)
      graft.overwriteAll(graft.read().limit(0))
    else graft.delete(ColumnBridge.column(cond))
  }
}

object GraftSqlTable {

  /** Connector-level predicate → Catalyst expression over column NAMES
    * (UnresolvedAttribute), so the result can filter any fresh read of
    * the table. Conservative: unknown shapes return None and the
    * caller refuses rather than mis-translates. */
  def v2ToCatalyst(e: V2Expression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def kids(p: V2Predicate): Array[V2Expression] = p.children()
    def bin(p: V2Predicate, f: (Expression, Expression) => Expression) =
      for {
        l <- v2ToCatalyst(kids(p)(0))
        r <- v2ToCatalyst(kids(p)(1))
      } yield f(l, r)
    e match {
      case ref: NamedReference =>
        Some(UnresolvedAttribute(ref.fieldNames.toSeq))
      case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
      case p: V2Predicate => p.name() match {
        case "ALWAYS_TRUE" => Some(Literal.TrueLiteral)
        case "ALWAYS_FALSE" => Some(Literal.FalseLiteral)
        case "IS_NULL" => v2ToCatalyst(kids(p)(0)).map(ce.IsNull)
        case "IS_NOT_NULL" => v2ToCatalyst(kids(p)(0)).map(ce.IsNotNull)
        case "NOT" => v2ToCatalyst(kids(p)(0)).map(ce.Not)
        case "=" => bin(p, ce.EqualTo)
        case "<=>" => bin(p, ce.EqualNullSafe)
        case "<>" | "!=" => bin(p, (a, b) => ce.Not(ce.EqualTo(a, b)))
        case "<" => bin(p, ce.LessThan)
        case "<=" => bin(p, ce.LessThanOrEqual)
        case ">" => bin(p, ce.GreaterThan)
        case ">=" => bin(p, ce.GreaterThanOrEqual)
        case "AND" => bin(p, ce.And)
        case "OR" => bin(p, ce.Or)
        case "IN" =>
          val vs = kids(p).tail.toSeq.map(v2ToCatalyst)
          for {
            col <- v2ToCatalyst(kids(p)(0))
            values <- if (vs.forall(_.isDefined)) Some(vs.flatten) else None
          } yield ce.In(col, values)
        case "STARTS_WITH" => bin(p, ce.StartsWith)
        case "ENDS_WITH" => bin(p, ce.EndsWith)
        case "CONTAINS" => bin(p, ce.Contains)
        case _ => None
      }
      case _ => None
    }
  }
}
