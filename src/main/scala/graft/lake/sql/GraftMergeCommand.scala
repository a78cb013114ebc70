package graft.lake.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructField

import graft.lake.{GraftTable, Io}

/** Opaque holders: keep Catalyst trees out of the command's product
  * scan so the (already-resolved) command never re-enters analysis. */
final case class ExprBox(e: Expression)
final case class PlanBox(plan: LogicalPlan)

/** One WHEN MATCHED / WHEN NOT MATCHED BY SOURCE clause: either an
  * UPDATE SET (set nonEmpty) or a DELETE (set empty). */
final case class MergeWhenSpec(cond: Option[ExprBox], isDelete: Boolean,
    set: Map[String, ExprBox])

/** One WHEN NOT MATCHED THEN INSERT clause. */
final case class MergeInsertSpec(cond: Option[ExprBox],
    values: Map[String, ExprBox])

/** `MERGE INTO <graft table> USING <source> ON <cond> WHEN ...`
  * ([EXT] — the reference demo stops at UPDATE/DELETE; MERGE completes
  * the lakehouse DML surface).
  *
  * The source is computed once, with a row id, and kept by a local
  * checkpoint, so every consumer sees the same rows and a
  * nondeterministic source runs once.
  * DISCOVERY is one one-sided join, `target LEFT OUTER JOIN source ON
  * <cond>`, kept to the matched rows plus the rows a NOT MATCHED BY
  * SOURCE clause acts on; without such a clause that filter makes it
  * an inner join, and Spark's own join selection broadcasts a small
  * source into the target scan. Each kept row carries its clause
  * disposition (first matching clause wins, as in Spark/Iceberg/Delta)
  * and the kept set is persisted — its size follows the matched rows,
  * not the table. The cardinality check, the acted (file, pos) rows and
  * the updated rows come from it; the inserts are `source LEFT ANTI
  * JOIN` its matched rows on the source row id, so the target is
  * scanned once. The write then honors `write.merge.mode`:
  *
  *  - copy-on-write (default): re-plan the lineage read over ONLY the
  *    affected files, re-join them with the source, apply dispositions,
  *    replace those files.
  *  - merge-on-read: position-delete exactly the acted rows and append
  *    replacements + inserts in one add-only O(delta) commit, the shape
  *    of an MOR UPDATE — a sparse merge over a huge table writes
  *    O(changed rows), and no second join or file rewrite happens.
  */
case class GraftMergeCommand(
    table: GraftSqlTable,
    source: PlanBox,
    targetIds: Set[ExprId],
    sourceIds: Set[ExprId],
    onCond: ExprBox,
    matched: Seq[MergeWhenSpec],
    notMatched: Seq[MergeInsertSpec],
    notMatchedBySource: Seq[MergeWhenSpec])
    extends LeafRunnableCommand {

  import GraftTable.{FileCol, PosCol}

  private val SrcMark = "__graft_src"
  private val SrcId = "__graft_src_id"
  private val ActCol = "__graft_act"
  private val KEEP = -1
  private val DELBASE = 1000

  override def run(session: SparkSession): Seq[Row] = {
    if (table.pinnedSnapshot.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot MERGE into ${table.name()} at a pinned snapshot")
    val g = table.graft
    val mor = g.properties.getOrElse("write.merge.mode",
      "copy-on-write") == "merge-on-read"
    val src = materializedSource(session)
    try if (mor) runMor(session, g, src) else runCow(session, g, src)
    finally release(src)
    Nil
  }

  // ---- shared pieces ----

  /** The source with a row id, computed once so that every consumer
    * (discovery, inserts, the COW re-join) reads the same rows and a
    * nondeterministic source runs once. A lazy local checkpoint rather
    * than a cache: the first job that reads it stores its blocks and
    * cuts the lineage, so a lost block fails the MERGE instead of
    * re-running the source with different rows. */
  private def materializedSource(session: SparkSession): DataFrame =
    ColumnBridge.ofRows(session, source.plan)
      .withColumn(SrcId, monotonically_increasing_id())
      .withColumn(SrcMark, lit(true))
      .localCheckpoint(eager = false)

  /** Drop the checkpointed source's stored blocks. */
  private def release(src: DataFrame): Unit =
    src.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Re-bind a command expression: target attrs resolve against `tgt`,
    * source attrs against `src`. */
  private def reb(tgt: DataFrame, src: DataFrame)(box: ExprBox): Column =
    ColumnBridge.column(box.e.transform {
      case a: AttributeReference if targetIds(a.exprId) =>
        ColumnBridge.expression(tgt(a.name))
      case a: AttributeReference if sourceIds(a.exprId) =>
        ColumnBridge.expression(src(a.name))
    })

  private def whenCond(tgt: DataFrame, src: DataFrame)(
      s: MergeWhenSpec): Column =
    s.cond.map(reb(tgt, src)).getOrElse(lit(true))

  /** Target column of an ON equi-conjunct that is bucket-clustered —
    * the storage-partitioned MERGE opportunity: reading the target
    * through its claimed bucket layout leaves only the SOURCE side of
    * a shuffled discovery join to shuffle. */
  private def bucketKey(g: GraftTable): Option[String] =
    onCond.e.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetIds(a.exprId) && sourceIds(b.exprId) => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if sourceIds(a.exprId) && targetIds(b.exprId) => b.name
    }.find(g.bucketFieldOf(_).isDefined)

  /** The target's lineage read for the discovery join: the claimed
    * bucket-local form when the layout is provable (no delete files,
    * stats on every file), else the plain read. Pure physical choice —
    * identical rows either way. */
  private def targetFrame(g: GraftTable, entries: Seq[graft.lake.ManifestEntry],
      readLin: Seq[graft.lake.ManifestEntry] => DataFrame): DataFrame =
    bucketKey(g)
      .flatMap(k => g.bucketLocalReadEntries(entries, k, lineage = true))
      .getOrElse(readLin(entries))

  /** First-match clause disposition code: update i → i+offset, delete
    * i → DELBASE+offset+i, no clause applies → KEEP. */
  private def dispositionChain(tgt: DataFrame, src: DataFrame,
      specs: Seq[MergeWhenSpec], offset: Int): Column =
    specs.zipWithIndex.reverse.foldLeft(lit(KEEP): Column) {
      case (acc, (spec, i)) =>
        val code = if (spec.isDelete) DELBASE + offset + i else offset + i
        when(whenCond(tgt, src)(spec), lit(code)).otherwise(acc)
    }

  private def disposition(tgt: DataFrame, src: DataFrame,
      isMatched: Column, isNmbs: Column): Column =
    when(isMatched,
      if (matched.isEmpty) lit(KEEP)
      else dispositionChain(tgt, src, matched, 0))
    .when(isNmbs,
      if (notMatchedBySource.isEmpty) lit(KEEP)
      else dispositionChain(tgt, src, notMatchedBySource, 100))
    .otherwise(lit(KEEP))

  /** Output columns applying whichever UPDATE clause fired. */
  private def updatedColumns(tgt: DataFrame, src: DataFrame)
      : Seq[Column] = {
    def updates(specs: Seq[MergeWhenSpec], offset: Int,
        f: StructField, acc: Column): Column =
      specs.zipWithIndex.filterNot(_._1.isDelete)
        .foldLeft(acc) { case (a, (spec, i)) =>
          spec.set.get(f.name) match {
            case Some(v) => when(col(ActCol) === offset + i,
              reb(tgt, src)(v).cast(f.dataType)).otherwise(a)
            case None => a
          }
        }
    table.graft.schema.fields.toSeq.map { f =>
      updates(notMatchedBySource, 100, f,
        updates(matched, 0, f, tgt(f.name))).as(f.name)
    }
  }

  /** `target LEFT OUTER JOIN source ON <cond>`, kept to the matched
    * rows (the cardinality check and the insert anti-join need every
    * one) and the rows a NOT MATCHED BY SOURCE clause acts on, each
    * with its clause disposition. Without such a clause the filter on
    * the source mark lets Catalyst plan an inner join. */
  private def discover(tgt: DataFrame, src: DataFrame): DataFrame = {
    val isMatched = col(SrcMark).isNotNull
    val joined = tgt.join(src, reb(tgt, src)(onCond), "left_outer")
    def act(df: DataFrame): DataFrame =
      df.withColumn(ActCol, disposition(tgt, src, isMatched, !isMatched))
    if (notMatchedBySource.isEmpty) act(joined.filter(isMatched))
    else act(joined).filter(isMatched || col(ActCol) =!= KEEP)
  }

  /** One aggregation over the persisted discovery rows, partitioned by
    * target file so both groupings share one shuffle: per file, whether
    * a target row matched more than one source row, how many rows a
    * clause acts on, and how many of those it updates. Only files with
    * an acted row or a violation come back, so the driver collects
    * O(affected files). Fails on a cardinality violation; returns
    * (acted rows per file, updated rows). */
  private def probe(found: DataFrame): (Map[String, Long], Long) = {
    if (matched.isEmpty && notMatchedBySource.isEmpty)
      return (Map.empty, 0L)
    val acted = col(ActCol) =!= KEEP
    val rows = found.repartition(col(FileCol))
      .groupBy(col(FileCol), col(PosCol)).agg(
        count(when(col(SrcMark).isNotNull, 1)).as("__nm"),
        max(when(acted, 1).otherwise(0)).as("__act"),
        max(when(acted && col(ActCol) < DELBASE, 1).otherwise(0))
          .as("__upd"))
      .groupBy(col(FileCol)).agg(max(col("__nm")).as("__nm"),
        sum(col("__act")).as("__act"), sum(col("__upd")).as("__upd"))
      .filter(col("__nm") > 1 || col("__act") > 0)
      .collect()
    if (rows.exists(_.getLong(1) > 1))
      throw new UnsupportedOperationException(
        "MERGE cardinality violation: a target row matched more " +
          "than one source row")
    (rows.filter(_.getLong(2) > 0)
        .map(r => Io.normalize(r.getString(0)) -> r.getLong(2)).toMap,
      rows.map(_.getLong(3)).sum)
  }

  /** WHEN NOT MATCHED inserts: the source rows no target row matched
    * (`source LEFT ANTI JOIN` the matched discovery rows on the source
    * row id), each through the first insert clause whose condition
    * holds; None without insert clauses. */
  private def insertFrame(src: DataFrame,
      found: DataFrame): Option[DataFrame] =
    Option.when(notMatched.nonEmpty) {
      val unmatched = src.join(
        found.filter(col(SrcMark).isNotNull).select(SrcId),
        Seq(SrcId), "left_anti")
      val bind = reb(unmatched, unmatched) _
      val actCol = notMatched.zipWithIndex.reverse
        .foldLeft(lit(-1): Column) { case (acc, (spec, i)) =>
          when(spec.cond.map(bind).getOrElse(lit(true)), lit(i))
            .otherwise(acc)
        }
      val cols = table.graft.schema.fields.toSeq.map { f =>
        notMatched.zipWithIndex.reverse.foldLeft(
          lit(null).cast(f.dataType): Column) { case (acc, (spec, i)) =>
          when(col(ActCol) === i,
            spec.values.get(f.name).map(bind)
              .getOrElse(lit(null)).cast(f.dataType)).otherwise(acc)
        }.as(f.name)
      }
      unmatched.withColumn(ActCol, actCol).filter(col(ActCol) >= 0)
        .select(cols: _*)
    }

  /** Size the MERGE write by BYTES instead of by shuffle parallelism
    * (r18, guide §6 — output file sizing). The rewrite/insert frame is
    * a JOIN output, so without this it writes one file per reduce
    * partition: a 15k-row COW merge at 32 shuffle partitions was
    * measured writing 33 tiny files, pushing every later read of the
    * table over Spark's 32-path parallel-listing threshold (a
    * distributed listing job per read) and tripling footer-stat and
    * scan-task counts. A REBALANCE hint lets AQE coalesce (or split)
    * the write to `spark.sql.adaptive.advisoryPartitionSizeInBytes` —
    * the same trade Iceberg's hash distribution mode makes: one extra
    * exchange of exactly the rewritten bytes buys right-sized files.
    * Rows are unchanged (layout only). No-op when AQE is off (a bare
    * rebalance would then shuffle to the static partition count —
    * potentially MORE files, not fewer). */
  private def sizedForWrite(session: SparkSession, df: DataFrame): DataFrame =
    if (session.conf.get("spark.sql.adaptive.enabled", "true") == "true")
      df.hint("rebalance")
    else df

  // ---- copy-on-write ----

  private def runCow(session: SparkSession, g: GraftTable,
      src: DataFrame): Unit = {
    var found: DataFrame = null
    try g.cowTransaction("merge") { snap =>
      val entries = snap.entries
      found = discover(targetFrame(g, entries, snap.readLineage), src)
        .persist()
      val affected = probe(found)._1.keySet
      val inserts = insertFrame(src, found)
      if (affected.isEmpty && inserts.forall(_.isEmpty)) None
      else {
        // rewrite ONLY the affected files, re-joined for disposition
        val rewritten = Option.when(affected.nonEmpty) {
          val tgt2 = targetFrame(g, g.victimEntries(entries, affected),
            snap.readLineage)
          val m2 = col(SrcMark).isNotNull
          tgt2.join(src, reb(tgt2, src)(onCond), "left_outer")
            .withColumn(ActCol, disposition(tgt2, src, m2, !m2))
            .filter(col(ActCol) < DELBASE) // drop deleted rows
            .select(updatedColumns(tgt2, src): _*)
        }
        Some((affected,
          (rewritten ++ inserts).reduceOption(_ unionByName _)
            .map(sizedForWrite(session, _)),
          Map("mode" -> "copy-on-write",
            "merge-affected-files" -> affected.size.toString)))
      }
    } finally if (found != null) found.unpersist()
  }

  // ---- merge-on-read ----

  private def runMor(session: SparkSession, g: GraftTable,
      src: DataFrame): Unit = {
    var found: DataFrame = null
    try g.morRowChange("merge") { snap =>
      val tgt = targetFrame(g, snap.entries, snap.readLineage)
      found = discover(tgt, src).persist()
      val (acted, updated) = probe(found)
      val n = acted.values.sum
      val inserts = insertFrame(src, found)
      if (n == 0 && inserts.forall(_.isEmpty)) None
      else {
        // every row whose clause fired is position-deleted; updates
        // additionally re-append their transformed row
        val isActed = col(ActCol) =!= KEEP
        val hits = found.filter(isActed)
          .select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
        val updates = Option.when(updated > 0)(
          found.filter(isActed && col(ActCol) < DELBASE)
            .select(updatedColumns(tgt, src): _*))
        Some((hits, n, (updates ++ inserts).reduceOption(_ unionByName _)
          .map(sizedForWrite(session, _)), Map("mode" -> "merge-on-read")))
      }
    } finally if (found != null) found.unpersist()
  }

  override def simpleString(maxFields: Int): String =
    s"GraftMerge ${table.name()}"
}
