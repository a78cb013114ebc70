package graft.lake.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
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
  * One DISCOVERY full-outer join of the lineage-read target against
  * the source finds matches, cardinality violations, inserts, and the
  * per-row clause disposition (first matching clause wins, as in
  * Spark/Iceberg/Delta). The write then honors `write.merge.mode`:
  *
  *  - copy-on-write (default): re-plan the lineage read over ONLY the
  *    affected files, re-join, apply dispositions, replace those files.
  *  - merge-on-read: position-delete exactly the changed rows and
  *    append replacements + inserts — a sparse merge over a huge table
  *    writes O(changed rows), not O(affected file bytes), and no
  *    second join or file rewrite happens at all.
  *
  * At 100 TB the discovery join is the inherent cost of MERGE (the ON
  * condition is arbitrary — no stats pruning is sound); everything
  * after it is bounded by the matched rows (MOR) or matched files
  * (COW), and the shuffle is keyed on the ON condition's equi-part
  * (Catalyst extracts it).
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

  private val TgtMark = "__graft_tgt"
  private val SrcMark = "__graft_src"
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
    if (mor) runMor(session, g) else runCow(session, g)
    Nil
  }

  // ---- shared pieces ----

  private def sourceFrame(session: SparkSession): DataFrame =
    ColumnBridge.ofRows(session, source.plan)
      .withColumn(SrcMark, lit(true))

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
    * the discovery join to shuffle. */
  private def bucketKey(g: GraftTable): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    onCond.e.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetIds(a.exprId) && sourceIds(b.exprId) => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if sourceIds(a.exprId) && targetIds(b.exprId) => b.name
    }.find(g.bucketFieldOf(_).isDefined)
  }

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

  /** WHEN NOT MATCHED inserts from the discovery join's source-only
    * side (first matching clause wins); null when no insert clauses. */
  private def insertFrame(joined: DataFrame, tgt: DataFrame,
      src: DataFrame, isIns: Column): DataFrame = {
    if (notMatched.isEmpty) return null
    val actCol = notMatched.zipWithIndex.reverse
      .foldLeft(lit(-1): Column) { case (acc, (spec, i)) =>
        when(spec.cond.map(reb(tgt, src)).getOrElse(lit(true)), lit(i))
          .otherwise(acc)
      }
    val withAct = joined.filter(isIns).withColumn(ActCol, actCol)
      .filter(col(ActCol) >= 0)
    val cols = table.graft.schema.fields.toSeq.map { f =>
      notMatched.zipWithIndex.reverse.foldLeft(
        lit(null).cast(f.dataType): Column) { case (acc, (spec, i)) =>
        when(col(ActCol) === i,
          spec.values.get(f.name).map(reb(tgt, src))
            .getOrElse(lit(null)).cast(f.dataType)).otherwise(acc)
      }.as(f.name)
    }
    withAct.select(cols: _*)
  }

  /** Existence condition for WHEN NOT MATCHED inserts — true on a
    * discovery-join row iff [[insertFrame]] would emit it (some insert
    * clause's condition holds). */
  private def insertExistsCond(tgt: DataFrame, src: DataFrame,
      isIns: Column): Column =
    if (notMatched.isEmpty) lit(false)
    else isIns && notMatched
      .map(s => s.cond.map(reb(tgt, src)).getOrElse(lit(true)))
      .reduce(_ || _)

  /** ONE probe pass over the cached discovery join (r17, guide §1.2 —
    * it previously took three jobs re-scanning the cache: a
    * cardinality-violation count, an affected-file distinct+collect,
    * and an insert-existence limit(1)): per-(file, pos)
    * matched-cardinality and touch/insert flags, re-aggregated per
    * file and FILTERED so the driver only ever collects touched /
    * violating files plus the null insert group — the same
    * affected-file bound as before, never the full file list.
    * Returns (cardinality violation?, affected file set, inserts?). */
  private def probeJoin(joined: DataFrame, touchCond: Column,
      isMatched: Column, insExists: Column)
      : (Boolean, Set[String], Boolean) = {
    val perRow = joined.groupBy(col(FileCol), col(PosCol)).agg(
      count(when(isMatched, 1)).as("__nm"),
      max(when(touchCond, 1).otherwise(0)).as("__touch"),
      max(when(insExists, 1).otherwise(0)).as("__ins"))
    val rows = perRow.groupBy(col(FileCol)).agg(
        max(when(col("__nm") > 1, 1).otherwise(0)).as("__dup"),
        max(col("__touch")).as("__touch"),
        max(col("__ins")).as("__ins"))
      .filter(col("__dup") === 1 || col("__touch") === 1 ||
        col("__ins") === 1)
      .collect()
    val dup = rows.exists(_.getInt(1) == 1)
    val affected = rows.filter(r => r.getInt(2) == 1 && !r.isNullAt(0))
      .map(r => Io.normalize(r.getString(0))).toSet
    val anyIns = rows.exists(_.getInt(3) == 1)
    (dup, affected, anyIns)
  }

  private def cardinalityViolation(): Nothing =
    throw new UnsupportedOperationException(
      "MERGE cardinality violation: a target row matched more " +
        "than one source row")

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
    if (df != null &&
        session.conf.get("spark.sql.adaptive.enabled", "true") == "true")
      df.hint("rebalance")
    else df

  // ---- copy-on-write ----

  private def runCow(session: SparkSession, g: GraftTable): Unit = {
    val schema = g.schema
    // the discovery join feeds the cardinality check, affected-file
    // collect, insert frame, and change probe — persist it so the
    // full-table join runs ONCE per MERGE, not once per consumer
    var joinedCached: DataFrame = null
    try g.cowTransaction("merge") { snap =>
      // MERGE's discovery is a full-outer join against the whole
      // target — the full entry list is genuinely needed here
      val entries = snap.entries
      val readLin = snap.readLineage _
      val src = sourceFrame(session)
      val tgt1 = targetFrame(g, entries, readLin)
        .withColumn(TgtMark, lit(true))
      val joined = tgt1.join(src, reb(tgt1, src)(onCond), "full_outer")
        .persist()
      joinedCached = joined
      val isMatched = col(TgtMark).isNotNull && col(SrcMark).isNotNull
      val isNmbs = col(TgtMark).isNotNull && col(SrcMark).isNull
      val isIns = col(TgtMark).isNull && col(SrcMark).isNotNull

      val matchedTouches = if (matched.isEmpty) lit(false) else isMatched
      val nmbsTouches =
        if (notMatchedBySource.isEmpty) lit(false)
        else isNmbs &&
          notMatchedBySource.map(whenCond(tgt1, src)).reduce(_ || _)
      val (dup, affected, anyInserts) = probeJoin(joined,
        matchedTouches || nmbsTouches, isMatched,
        insertExistsCond(tgt1, src, isIns))
      if (dup && (matched.nonEmpty || notMatchedBySource.nonEmpty))
        cardinalityViolation()
      val insertRows = insertFrame(joined, tgt1, src, isIns)
      if (affected.isEmpty && !anyInserts) None
      else {
        // rewrite ONLY the affected files, re-joined for disposition
        val rewritten: DataFrame = if (affected.isEmpty) null else {
          val tgt2 = targetFrame(g, g.victimEntries(entries, affected),
            readLin).withColumn(TgtMark, lit(true))
          val j2 = tgt2.join(src, reb(tgt2, src)(onCond), "left_outer")
          val m2 = col(SrcMark).isNotNull
          j2.withColumn(ActCol,
              disposition(tgt2, src, m2, !m2))
            .filter(col(ActCol) < DELBASE) // drop deleted rows
            .select(updatedColumns(tgt2, src): _*)
        }
        val out = sizedForWrite(session, (rewritten, insertRows) match {
          case (null, ins) => ins
          case (rw, null) => rw
          case (rw, ins) => rw.unionByName(ins)
        })
        Some((affected, Some(out), Map(
          "mode" -> "copy-on-write",
          "merge-affected-files" -> affected.size.toString)))
      }
    } finally if (joinedCached != null) joinedCached.unpersist()
  }

  // ---- merge-on-read ----

  private def runMor(session: SparkSession, g: GraftTable): Unit = {
    // the discovery join is consumed several times (cardinality check,
    // hits, appended rows, inserts, change probes) — persist it so the
    // full-table join runs ONCE per MERGE; derived frames are cheap
    // filters over the cache
    var joinedCached: DataFrame = null
    try {
      g.morTransaction("merge") { (entries, readLin) =>
        val src = sourceFrame(session)
        val tgt = targetFrame(g, entries, readLin)
          .withColumn(TgtMark, lit(true))
        val joined = tgt.join(src, reb(tgt, src)(onCond), "full_outer")
          .persist()
        joinedCached = joined
        val isMatched = col(TgtMark).isNotNull && col(SrcMark).isNotNull
        val isNmbs = col(TgtMark).isNotNull && col(SrcMark).isNull
        val isIns = col(TgtMark).isNull && col(SrcMark).isNotNull

        // every row whose clause fired gets position-deleted; updates
        // additionally re-append their transformed row
        val actedCond = col(TgtMark).isNotNull &&
          disposition(tgt, src, isMatched, isNmbs) =!= KEEP
        val (dup, actedFiles, anyInserts) = probeJoin(joined, actedCond,
          isMatched, insertExistsCond(tgt, src, isIns))
        if (dup && (matched.nonEmpty || notMatchedBySource.nonEmpty))
          cardinalityViolation()
        val acted = joined.filter(col(TgtMark).isNotNull)
          .withColumn(ActCol, disposition(tgt, src, isMatched, isNmbs))
          .filter(col(ActCol) =!= KEEP)
        val hits = acted.select(col(FileCol).as("file_path"),
          col(PosCol).as("pos"))
        val updatedRows = acted.filter(col(ActCol) < DELBASE)
          .select(updatedColumns(tgt, src): _*)
        val insertRows = insertFrame(joined, tgt, src, isIns)
        val appendRows = if (insertRows == null) updatedRows
          else updatedRows.unionByName(insertRows)

        // the probe above already materialized the cache and answered
        // both existence questions in its single pass
        val anyChange = actedFiles.nonEmpty || anyInserts
        if (!anyChange) None
        else Some((hits, sizedForWrite(session, appendRows),
          Map("mode" -> "merge-on-read")))
      }
    } finally if (joinedCached != null) joinedCached.unpersist()
  }

  override def simpleString(maxFields: Int): String =
    s"GraftMerge ${table.name()}"
}
