package graft.lake.sql

import java.util.{Map => JMap, Set => JSet}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, ExprId, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.GraftTable

/** The planning half of the SQL surface, injected via GraftExtensions.
  *
  * Reads: every `DataSourceV2Relation(GraftSqlTable)` is replaced with
  * the COMPOSED Spark plan from GraftTable.read() — manifest-selected
  * parquet scans plus the MOR delete filter — re-aliased to the
  * relation's attribute ids. Catalyst then optimizes ordinary parquet
  * relations: pushdown, pruning, and whole-stage codegen all apply, and
  * nothing re-implements a reader.
  *
  * Row-level writes: `UPDATE`/`DELETE` statements against a Graft
  * relation are intercepted at the root (before Spark's
  * RewriteUpdateTable demands SupportsRowLevelOperations) and lowered
  * to commands that call the table's COW/MOR write paths — the same
  * preference order SURVEY §3 set out: compose what Spark has, add a
  * LogicalPlan+Strategy only where built-ins can't express the
  * semantics (here Spark's BasicOperators already executes
  * RunnableCommand, so no custom strategy is needed either).
  */
case class GraftSqlResolution(session: SparkSession)
    extends Rule[LogicalPlan] {

  private object GraftRel {
    def unapply(p: LogicalPlan): Option[(DataSourceV2Relation, GraftSqlTable)] =
      p match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftSqlTable => Some((r, t))
          case _ => None
        }
        case _ => None
      }
  }

  private object GraftMetaRel {
    def unapply(p: LogicalPlan)
        : Option[(DataSourceV2Relation, GraftMetadataSqlTable)] =
      p match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftMetadataSqlTable => Some((r, t))
          case _ => None
        }
        case _ => None
      }
  }

  /** Row-level commands resolve their target through SubqueryAlias. */
  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAlias(child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && GraftRel.unapply(stripAlias(target)).isDefined =>
      val (_, t) = GraftRel.unapply(stripAlias(target)).get
      val sets = assignments.map { a =>
        a.key match {
          case attr: AttributeReference => attr.name -> ExprBox(a.value)
          case other => throw new UnsupportedOperationException(
            s"UPDATE of nested field $other is not supported")
        }
      }.toMap
      GraftUpdateCommand(t, sets,
        ExprBox(condition.getOrElse(Literal.TrueLiteral)),
        target.output.map(_.exprId).toSet)
    case d @ DeleteFromTable(target, condition)
        if d.resolved && GraftRel.unapply(stripAlias(target)).isDefined =>
      val (_, t) = GraftRel.unapply(stripAlias(target)).get
      GraftDeleteCommand(t, ExprBox(condition),
        target.output.map(_.exprId).toSet)
    case m @ MergeIntoTable(target, source, cond, matchedActs,
        notMatchedActs, nmbsActs, withSchemaEvolution)
        if m.resolved && GraftRel.unapply(stripAlias(target)).isDefined =>
      // WITH SCHEMA EVOLUTION needs no handling here: by the time the
      // MergeIntoTable is resolved, ResolveMergeIntoSchemaEvolution
      // has already ADD-COLUMNed the extra source columns into the
      // target (gated on the AUTOMATIC_SCHEMA_EVOLUTION capability),
      // so the command sees the evolved schema like any other merge.
      val (_, t) = GraftRel.unapply(stripAlias(target)).get
      def assignName(key: Expression): String = key match {
        case a: AttributeReference => a.name
        case other => throw new UnsupportedOperationException(
          s"MERGE assignment to nested field $other is not supported")
      }
      def whenSpec(a: MergeAction): MergeWhenSpec = a match {
        case UpdateAction(c, assigns, _) => MergeWhenSpec(
          c.map(ExprBox), isDelete = false,
          assigns.map(x => assignName(x.key) -> ExprBox(x.value)).toMap)
        case DeleteAction(c) =>
          MergeWhenSpec(c.map(ExprBox), isDelete = true, Map.empty)
        case other => throw new UnsupportedOperationException(
          s"unsupported MERGE clause $other")
      }
      def insertSpec(a: MergeAction): MergeInsertSpec = a match {
        case InsertAction(c, assigns) => MergeInsertSpec(c.map(ExprBox),
          assigns.map(x => assignName(x.key) -> ExprBox(x.value)).toMap)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED clause $other")
      }
      GraftMergeCommand(t, PlanBox(source),
        targetIds = target.output.map(_.exprId).toSet,
        sourceIds = source.output.map(_.exprId).toSet,
        onCond = ExprBox(cond),
        matched = matchedActs.map(whenSpec),
        notMatched = notMatchedActs.map(insertSpec),
        notMatchedBySource = nmbsActs.map(whenSpec))
    // substitute read relations — but never while an unrewritten
    // row-level command still owns its target relation, and only once
    // the plan is RESOLVED: substituting relations mid-analysis would
    // run the bucket-local join detector before join conditions have
    // attributes (the fixpoint reaches this case regardless — V2
    // relations analyze fine unsubstituted, they just can't plan)
    case other if other.resolved &&
        !other.exists(n => n.isInstanceOf[UpdateTable] ||
        n.isInstanceOf[DeleteFromTable] ||
        n.isInstanceOf[MergeIntoTable]) =>
      val local = bucketLocalAssignments(other)
      val assigned = local ++ runtimePruneAssignments(other, local.keySet)
      other.transformUp {
        case GraftRel(r, t) =>
          substitute(r, optionsRead(r, t)
            .orElse(assigned.get(r)).getOrElse(t.read()))
        case GraftMetaRel(r, t) =>
          rejectUnknownOptions(r, t.name(), Set.empty)
          substitute(r, t.df)
      }
    case other => other
  }

  // read-option handling lives in GraftRelSubstitution (one
  // authoritative doc + implementation; this rule only forwards)
  private def rejectUnknownOptions(r: DataSourceV2Relation, name: String,
      known: Set[String]): Unit =
    GraftRelSubstitution.rejectUnknownOptions(r, name, known)

  private def optionsRead(r: DataSourceV2Relation, t: GraftSqlTable)
      : Option[DataFrame] = GraftRelSubstitution.optionsRead(r, t)

  /** SQL-path storage-partitioned joins, behind the opt-in session
    * conf `spark.graft.bucketLocalJoin=true`: when a Join's two sides
    * are (alias/filter-wrapped) Graft relations whose equi-join keys
    * are both clustered `bucket(n, key)` with the SAME n, substitute
    * each side with [[GraftTable.bucketLocalRead]] instead of the
    * plain read — the claimed HashPartitioning survives the
    * re-aliasing Project (ProjectExec is alias-aware), so
    * EnsureRequirements plans the join with zero Exchange nodes.
    * Everything ineligible (deletes, straddle-only stats, pinned
    * snapshots, different n) silently keeps the ordinary shuffled
    * read — this is a layout fast path, never a semantics change. */
  /** Trace a join-key attribute down through aliases, filters, and
    * projection renames to the graft relation column it reads — a
    * side qualifies however the query dressed it, as long as the key
    * survives the walk. */
  private def trace(p: LogicalPlan, attr: AttributeReference)
      : Option[(DataSourceV2Relation, GraftSqlTable, String)] =
    p match {
      case SubqueryAlias(_, c) => trace(c, attr)
      case Filter(_, c) => trace(c, attr)
      case Project(list, c) =>
        list.find(_.exprId == attr.exprId).flatMap {
          case a: AttributeReference => trace(c, a)
          case Alias(a: AttributeReference, _) => trace(c, a)
          case _ => None // computed key: no storage column behind it
        }
      case GraftRel(r, t)
          // options-pinned relations (snapshot-id/branch/... reads)
          // must never route to a current-snapshot fast path
          if t.pinnedSnapshot.isEmpty && r.options.isEmpty &&
            r.outputSet.contains(attr) =>
        Some((r, t, attr.name))
      case _ => None
    }

  private def bucketLocalAssignments(plan: LogicalPlan)
      : Map[DataSourceV2Relation, DataFrame] = {
    if (!session.conf.getOption("spark.graft.bucketLocalJoin")
        .exists(_.equalsIgnoreCase("true"))) return Map.empty
    // partially-clustered factor (default 1): routed reads claim
    // HashPartitioning(key, n*f) for n*f-way parallelism when buckets
    // outgrew their count — applied to BOTH join sides (same factor =
    // still exchange-free) and to aggregate-only claims
    // a typo'd or non-positive conf value degrades to factor 1 (the
    // ordinary routed read) like every other eligibility gate on this
    // path — a session conf must never fail query resolution
    val factor = session.conf
      .getOption("spark.graft.bucketLocalJoin.splitFactor")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(1)
    def bucketOf(t: GraftSqlTable, key: String)
        : Option[graft.lake.BucketField] =
      t.graft.enrichedProperties.get("write.clustered-by")
        .map(graft.lake.ClusterSpec.parseList).getOrElse(Nil)
        .collectFirst {
          case b: graft.lake.BucketField
            if b.column.equalsIgnoreCase(key) => b
        }
    val out = scala.collection.mutable
      .Map.empty[DataSourceV2Relation, DataFrame]
    plan.foreach {
      // aggregate-only shape: GROUP BY on a bucket-clustered column
      // needs ClusteredDistribution(groupKeys), and the claimed
      // HashPartitioning(key, n) satisfies it whenever the clustered
      // key is AMONG the grouping keys (same key ⇒ same partition) —
      // the whole-table-aggregate exchange disappears
      case a: Aggregate =>
        a.groupingExpressions.collect {
          case ar: AttributeReference => ar
        }.iterator.flatMap(k => trace(a.child, k)).collectFirst {
          case (r, t, key) if !out.contains(r) &&
              bucketOf(t, key).isDefined => (r, t, key)
        }.foreach { case (r, t, key) =>
          t.graft.bucketLocalRead(key, factor).foreach(out(r) = _)
        }
      case j: Join if j.condition.isDefined =>
        // find one equi-conjunct whose two attributes trace to two
        // DISTINCT graft relations (one per join side, either order)
        val pairs = j.condition.get.collect {
          case org.apache.spark.sql.catalyst.expressions
              .EqualTo(a: AttributeReference, b: AttributeReference) =>
            (trace(j.left, a), trace(j.right, b)) match {
              case (Some(l), Some(r)) => Some((l, r))
              case _ => (trace(j.left, b), trace(j.right, a)) match {
                case (Some(l), Some(r)) => Some((l, r))
                case _ => None
              }
            }
        }.flatten
        pairs.headOption.foreach {
          case ((lr, lt, lk), (rr, rt, rk))
              if lr != rr && !out.contains(lr) && !out.contains(rr) =>
            (bucketOf(lt, lk), bucketOf(rt, rk)) match {
              case (Some(lb), Some(rb)) if lb.n == rb.n =>
                for (ld <- lt.graft.bucketLocalRead(lk, factor);
                     rd <- rt.graft.bucketLocalRead(rk, factor)) {
                  out(lr) = ld; out(rr) = rd
                }
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    out.toMap
  }

  /** SQL-path runtime join pruning (the DPP analog, D42), behind the
    * opt-in conf `spark.graft.runtimeJoinPrune=true`: for an INNER or
    * LEFT SEMI equi-join where one key traces to a CLUSTERED graft
    * column, substitute that side with [[GraftTable.readForJoin]]
    * against the other side's key set — the other side's subplan runs
    * once pre-plan to collect (bounded) keys, which is the DPP
    * tradeoff the opt-in buys; over-`maxKeys` sides fall back to the
    * scan-all read inside readForJoin. Outer joins never route (the
    * pruned side might be preserved), and relations the bucket-local
    * router already claimed are left alone — the co-bucketed
    * zero-shuffle plan is strictly better. */
  private def runtimePruneAssignments(plan: LogicalPlan,
      claimed: collection.Set[DataSourceV2Relation])
      : Map[DataSourceV2Relation, DataFrame] = {
    if (!session.conf.getOption("spark.graft.runtimeJoinPrune")
        .exists(_.equalsIgnoreCase("true"))) return Map.empty
    val maxKeys = session.conf
      .getOption("spark.graft.runtimeJoinPrune.maxKeys")
      .map(_.toInt).getOrElse(10000)
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    def clustered(t: GraftSqlTable, key: String): Boolean =
      t.graft.enrichedProperties.get("write.clustered-by")
        .map(graft.lake.ClusterSpec.parseList).getOrElse(Nil)
        .exists(_.column.equalsIgnoreCase(key))
    def dimKeys(side: LogicalPlan, attr: AttributeReference): DataFrame =
      ColumnBridge.ofRows(session, Project(Seq(attr),
        GraftRelSubstitution.substituteAll(side)))
    val out = scala.collection.mutable
      .Map.empty[DataSourceV2Relation, DataFrame]
    plan.foreach {
      case j: Join if (j.joinType == Inner || j.joinType == LeftSemi)
          && j.condition.isDefined =>
        // TOP-LEVEL conjuncts only: unlike the layout-only bucket
        // claim, this substitution removes rows, so an equi-pair
        // buried under OR/NOT must never route (`k = dk OR x = y`
        // keeps rows the k-pruned read would drop)
        val conjuncts = {
          def split(e: Expression): Seq[Expression] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              split(l) ++ split(r)
            case other => Seq(other)
          }
          split(j.condition.get)
        }
        val routes = conjuncts.collect {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            Seq((trace(j.left, a), b, j.right),
              (trace(j.left, b), a, j.right),
              (trace(j.right, a), b, j.left),
              (trace(j.right, b), a, j.left))
        }.flatten.collect {
          // the dim-side key must be an output of the dim side, or the
          // conjunct isn't an equi-key BETWEEN the two sides
          case (Some((r, t, key)), dimAttr, dimSide)
              if dimSide.outputSet.contains(dimAttr) &&
                !claimed.contains(r) && !out.contains(r) &&
                clustered(t, key) =>
            (r, t, key, dimAttr, dimSide)
        }
        routes.headOption.foreach { case (r, t, key, dimAttr, dimSide) =>
          // stored-NDV refuse (compute_table_stats consumer): an
          // UNFILTERED dim relation whose analyzed key NDV already
          // exceeds maxKeys cannot yield a useful key set — skip the
          // route without running the dim subplan at all, which is
          // the point of stored stats (the static conf alone would
          // pay a bounded dim scan just to discover the overflow).
          // FRESH sketches only: a fresh sketch is the exact-merge
          // value (folds add; anything that could lower or miss rows
          // flips stale), so refusing on it is at worst conservative.
          // A STALE sketch may be off in EITHER direction and the
          // refuse path has no self-vet (its whole point is skipping
          // the dim probe) — a stale-HIGH reading (dim mass-deleted
          // since ANALYZE) would silently disable the prune route
          // until someone re-ANALYZEs. Stale therefore falls back to
          // the bounded dim probe the no-stats path already pays,
          // where readForJoin's bounded collect self-vets. A FILTERED
          // dim side never refuses here — the filter may cut the key
          // set under the bound.
          val ndvRefuse =
            unfilteredDimNdv(dimSide, dimAttr).exists(_ > maxKeys)
          // a self-join side must not prune by its own relation's
          // keys; a dim subplan this rule can't execute pre-plan
          // (e.g. carrying its own subqueries) skips the route — a
          // fast path must never fail a query that planned fine
          if (!ndvRefuse && !dimSide.exists(_ eq r)) try {
            out(r) = t.graft.readForJoin(key,
              dimKeys(dimSide, dimAttr), dimAttr.name, maxKeys)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      case _ => ()
    }
    out.toMap
  }

  /** Stored FRESH NDV of `attr` when `side` is the bare
    * (projection-only) graft relation — Filters make the walk fail on
    * purpose: a filtered dim may have far fewer distinct keys than
    * the table's NDV, so only an UNFILTERED side can refuse on stored
    * stats. Stale sketches return None (see the refuse comment). */
  private def unfilteredDimNdv(side: LogicalPlan,
      attr: AttributeReference): Option[Long] = side match {
    case SubqueryAlias(_, c) => unfilteredDimNdv(c, attr)
    case Project(list, c) =>
      list.find(_.exprId == attr.exprId).flatMap {
        case a: AttributeReference => unfilteredDimNdv(c, a)
        case Alias(a: AttributeReference, _) => unfilteredDimNdv(c, a)
        case _ => None
      }
    case GraftRel(r, t)
        if t.pinnedSnapshot.isEmpty && r.options.isEmpty &&
          r.outputSet.contains(attr) =>
      t.graft.columnNdvIfFresh(attr.name)
    case _ => None
  }

  private def substitute(r: DataSourceV2Relation,
      df: DataFrame): LogicalPlan =
    GraftRelSubstitution.substitute(r, df)
}

/** Shared relation substitution: a graft V2 relation (or metadata
  * relation) becomes the table's composed Spark read plan, re-aliased
  * to the relation's attribute ids. The row-level commands apply it to
  * subquery plans captured before substitution ran — the analyzer
  * never re-enters an already-resolved subquery, so the command does
  * it at bind time. */
private[sql] object GraftRelSubstitution {
  def substitute(r: DataSourceV2Relation, df: DataFrame): LogicalPlan = {
    val src = df.queryExecution.analyzed
    val byName = src.output.map(a => a.name.toLowerCase -> a).toMap
    Project(r.output.map { o =>
      val a = byName.getOrElse(o.name.toLowerCase,
        throw new IllegalStateException(
          s"column ${o.name} missing from substituted Graft read"))
      Alias(a, o.name)(exprId = o.exprId)
    }, src)
  }

  /** Every consumer of a graft relation's plan — the analyzer rule,
    * runtime-prune dim sides, row-level subquery binding — resolves
    * options HERE, so an options-pinned relation can never leak a
    * current-snapshot read into some side channel. */
  def substituteAll(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable =>
        substitute(r, optionsRead(r, t).getOrElse(t.read()))
      case t: GraftMetadataSqlTable =>
        rejectUnknownOptions(r, t.name(), Set.empty)
        substitute(r, t.df)
      case _ => r
    }
  }

  /** Iceberg's read-option names on a graft relation (the reference's
    * exact time-travel form, demo.py:261,303,531:
    * `spark.read.option("snapshot-id", id).table(...)`):
    * `snapshot-id` / `as-of-timestamp` (ms since epoch) / `branch` /
    * `tag` pin the read to that state, and an EXPIRED snapshot id
    * throws exactly like the Scala `readAt` (the demo's post-expiry
    * failure path, demo.py:300-306). Anything unrecognized REFUSES
    * loudly: a silently-ignored read option would answer a time-travel
    * read with CURRENT data — a wrong answer, the worst failure mode. */
  private val readOptionNames =
    Seq("snapshot-id", "as-of-timestamp", "branch", "tag")

  def rejectUnknownOptions(r: DataSourceV2Relation, name: String,
      known: Set[String]): Unit = {
    val unknown = r.options.keySet().asScala
      .filterNot(k => known.contains(k.toLowerCase))
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unsupported read option(s) ${unknown.toSeq.sorted.mkString(", ")} " +
        s"on graft relation $name" +
        (if (known.nonEmpty)
          s" (supported: ${known.toSeq.sorted.mkString(", ")})" else ""))
  }

  def optionsRead(r: DataSourceV2Relation, t: GraftSqlTable)
      : Option[DataFrame] = {
    if (r.options.isEmpty) return None
    rejectUnknownOptions(r, t.name(), readOptionNames.toSet)
    val set = readOptionNames.filter(k => r.options.containsKey(k))
    if (set.size > 1) throw new IllegalArgumentException(
      s"conflicting read options on graft relation ${t.name()}: " +
        set.mkString(", ") + " (set exactly one)")
    if (t.pinnedSnapshot.nonEmpty) throw new IllegalArgumentException(
      s"cannot combine read option ${set.head} with VERSION/TIMESTAMP " +
        s"AS OF on graft relation ${t.name()}")
    def longOpt(k: String): Long = {
      val raw = r.options.get(k)
      try raw.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"read option $k on graft relation ${t.name()} must be a " +
            s"long, got '$raw'")
      }
    }
    def refOf(kind: String): DataFrame = {
      val refName = r.options.get(kind)
      // "main" is ALWAYS the published pointer (Iceberg's default
      // branch): createRef reserves the name, and even a legacy
      // metadata file carrying a ref named main must not shadow the
      // head — an EXPLICIT main read is never re-routed to staged or
      // stale data, and tag=main refuses rather than consult a
      // legacy stored ref (main is a branch, never a tag)
      if (refName == "main") {
        if (kind == "branch") return t.graft.readMainBranch()
        throw new IllegalArgumentException(
          s"main is the table head branch of ${t.name()} — read it " +
            "with the branch option (or plainly), not as a tag")
      }
      val ref = t.graft.meta.refs.getOrElse(refName,
        throw new IllegalArgumentException(
          s"unknown $kind $refName on graft relation ${t.name()}"))
      // Iceberg refuses a branch option naming a tag (and vice
      // versa): a job following a "branch" that is really an
      // immutable tag would silently pin itself to stale data
      if (ref.refType != kind) throw new IllegalArgumentException(
        s"read option $kind=$refName on graft relation ${t.name()} " +
          s"names a ${ref.refType} (use the ${ref.refType} option)")
      t.graft.readAt(ref.snapshotId)
    }
    Some(set.head match {
      case "snapshot-id" => t.graft.readAt(longOpt("snapshot-id"))
      case "as-of-timestamp" =>
        // MAIN-ancestry only (the snapshot-log semantics): branch or
        // WAP-staged snapshots share the table's snapshot list but
        // were never published — a timestamp read must not see them
        val ms = longOpt("as-of-timestamp")
        val snap = t.graft.snapshotAsOfMs(ms).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot of ${t.name()} at or before $ms"))
        t.graft.readAt(snap.snapshotId)
      case kind => refOf(kind) // branch | tag
    })
  }
}

/** Re-binding shared by the row-level UPDATE/DELETE commands: the
  * condition (and assignment values) were resolved against the
  * original target relation, but execute against fresh discovery /
  * rewrite frames inside the write paths. Target attributes — at the
  * top level AND as correlated outer references inside subquery plans
  * — re-resolve by name against the frame in hand, so `DELETE ...
  * WHERE EXISTS (SELECT ... WHERE r.k = t.k)` works without any name
  * scoping hazard (everything stays resolved; an unresolve-by-name
  * round-trip would let an inner column capture the outer name).
  * Graft relations inside subquery plans are substituted here too. */
private[sql] trait GraftRowLevelBinding {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, Exists,
    InSubquery, NamedExpression, OuterReference, SubqueryExpression}

  def targetIds: Set[ExprId]

  private def attrOf(df: DataFrame, name: String) =
    ColumnBridge.expression(df(name))

  private def rebindPlan(p: LogicalPlan, df: DataFrame): LogicalPlan =
    GraftRelSubstitution.substituteAll(p).transformAllExpressions {
      case OuterReference(a: AttributeReference) if targetIds(a.exprId) =>
        OuterReference(attrOf(df, a.name)
          .asInstanceOf[NamedExpression])
      case s: SubqueryExpression => s.withNewPlan(rebindPlan(s.plan, df))
    }

  private def rebind(e: Expression, df: DataFrame): Expression =
    e.transformUp {
      case a: AttributeReference if targetIds(a.exprId) =>
        attrOf(df, a.name)
      case s: SubqueryExpression => s.withNewPlan(rebindPlan(s.plan, df))
    }

  protected def binder(box: ExprBox): DataFrame => Column =
    df => ColumnBridge.column(rebind(box.e, df))

  /** Bucket-clustered target column the condition equi-joins through a
    * subquery (IN-list value, or a correlated EXISTS equality) — the
    * claimed hit-discovery opportunity: the semi-join then shuffles
    * only the subquery side. Plain predicates return None (discovery
    * is a scan+filter; there is no shuffle for the claim to delete). */
  protected def claimedKey(g: GraftTable, cond: ExprBox): Option[String] = {
    val names = cond.e.collect {
      case InSubquery(values, _) => values.collect {
        case a: AttributeReference if targetIds(a.exprId) => a.name
      }
      case e: Exists =>
        e.plan.collect { case f: Filter => f.condition }.flatMap(_.collect {
          case EqualTo(OuterReference(a: AttributeReference), _)
              if targetIds(a.exprId) => a.name
          case EqualTo(_, OuterReference(a: AttributeReference))
              if targetIds(a.exprId) => a.name
        })
    }.flatten
    names.find(g.bucketFieldOf(_).isDefined)
  }
}

/** `UPDATE <graft table> SET ... WHERE ...` lowered to the COW/MOR
  * update path (ref demo.py:228-235). Conditions and SET values may
  * carry (correlated) subqueries; when the condition subquery-joins on
  * a bucket-clustered column, hit discovery reads the target through
  * its claimed layout. */
case class GraftUpdateCommand(table: GraftSqlTable,
    sets: Map[String, ExprBox], condition: ExprBox,
    targetIds: Set[ExprId])
    extends LeafRunnableCommand with GraftRowLevelBinding {
  override def run(session: SparkSession): Seq[Row] = {
    if (table.pinnedSnapshot.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot UPDATE ${table.name()} at a pinned snapshot")
    table.graft.updateBind(binder(condition),
      sets.map { case (k, v) => k -> binder(v) },
      claimedKey(table.graft, condition))
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdate ${table.name()}"
}

/** `DELETE FROM <graft table> WHERE ...` lowered to the mode-aware
  * delete path (ref demo.py:177-180); handles predicates
  * SupportsDeleteV2 cannot translate, including (correlated)
  * subqueries — the GDPR `WHERE id IN (SELECT id FROM requests)`
  * shape — with claimed hit discovery on bucket-clustered keys. */
case class GraftDeleteCommand(table: GraftSqlTable, condition: ExprBox,
    targetIds: Set[ExprId])
    extends LeafRunnableCommand with GraftRowLevelBinding {
  override def run(session: SparkSession): Seq[Row] = {
    if (table.pinnedSnapshot.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot DELETE from ${table.name()} at a pinned snapshot")
    table.graft.deleteBind(binder(condition),
      claimedKey(table.graft, condition))
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDelete ${table.name()}"
}

/** Read-only metadata relations (`<table>.files`, `.history`, …) —
  * the Iceberg metadata-table surface the reference inspects
  * (demo.py:120,205; file_summary_utils.py:118-135). */
class GraftMetadataSqlTable(identName: String, val graft: GraftTable,
    val kind: String) extends Table with SupportsRead {

  def df: DataFrame = kind match {
    case "files" => graft.files
    case "history" => graft.history
    case "snapshots" => graft.snapshots
    case "all_entries" => graft.allEntries
    case "all_manifests" => graft.allManifests
    case "metadata_log_entries" => graft.metadataLogEntries
    case "refs" => graft.refsTable
    case "position_deletes" => graft.positionDeletes
    case "entries" => graft.entries
    case "manifests" => graft.manifests
    case "data_files" => graft.dataFiles
    case "delete_files" => graft.deleteFiles
    case "all_files" => graft.allFiles
    case "all_data_files" => graft.allDataFiles
    case "all_delete_files" => graft.allDeleteFiles
    case "partitions" => graft.partitionsTable
    case "stats" => graft.statsTable
    case other => throw new IllegalArgumentException(
      s"unknown metadata table $other")
  }

  override def name(): String = identName
  override def schema(): StructType = df.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def properties(): JMap[String, String] =
    java.util.Collections.emptyMap()
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () =>
    throw new IllegalStateException(
      s"GraftLake metadata relation $identName was not substituted: " +
        "register graft.GraftExtensions via spark.sql.extensions")
}
