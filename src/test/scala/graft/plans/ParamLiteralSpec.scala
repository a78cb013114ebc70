package graft.plans

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, In, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.column
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.lake.GraftTable

/** [[ParamLiteral]] and the [[ParamLiterals]] rewrite: for every type
  * whose literals codegen inlines, comparison and arithmetic filters
  * and projections over edge values return exactly the rows (or the
  * error) of a session without the rule, in both codegen modes and
  * with AQE on and off; the plan text does not change; and a point
  * lookup with a new key compiles no new class. */
class ParamLiteralSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** A session on the shared SparkContext with no extension at all:
    * the reference the rewritten plans answer against. Every public
    * way to build a session applies the context's `spark.sql.extensions`,
    * so it goes through the primary constructor (private to Scala). */
  private lazy val bare: SparkSession = {
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    cls.getConstructors.find(_.getParameterCount == 6).get.newInstance(
      spark.sparkContext, Some(spark.asInstanceOf[
        org.apache.spark.sql.classic.SparkSession].sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
  }

  /** One column type: the values stored (a NULL is added) and the
    * literals the queries compare and combine them with, all in
    * Catalyst's internal representation. */
  private final case class Case(t: DataType, stored: Seq[Any],
      literals: Seq[Any])

  private val MinMicros = -62135596800000000L // 0001-01-01 00:00:00
  private val MaxMicros = 253402300799999999L // 9999-12-31 23:59:59.999999

  private val cases = Seq(
    Case(BooleanType, Seq(true, false), Seq(true, false)),
    Case(ByteType, Seq[Byte](Byte.MinValue, -1, 0, 1, Byte.MaxValue),
      Seq[Byte](Byte.MinValue, 0, Byte.MaxValue)),
    Case(ShortType, Seq[Short](Short.MinValue, -1, 0, 1, Short.MaxValue),
      Seq[Short](Short.MinValue, 0, Short.MaxValue)),
    Case(IntegerType, Seq(Int.MinValue, -1, 0, 1, Int.MaxValue),
      Seq(Int.MinValue, 0, Int.MaxValue)),
    Case(LongType, Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      Seq(Long.MinValue, 0L, Long.MaxValue)),
    Case(FloatType, Seq(Float.NaN, -0.0f, 0.0f, 1.5f, Float.MinValue,
      Float.MaxValue, Float.MinPositiveValue, Float.NegativeInfinity,
      Float.PositiveInfinity), Seq(Float.NaN, -0.0f, 0.0f, Float.MinValue,
      Float.MaxValue, Float.PositiveInfinity)),
    Case(DoubleType, Seq(Double.NaN, -0.0, 0.0, 1.5, Double.MinValue,
      Double.MaxValue, Double.MinPositiveValue, Double.NegativeInfinity,
      Double.PositiveInfinity), Seq(Double.NaN, -0.0, 0.0, Double.MinValue,
      Double.MaxValue, Double.PositiveInfinity)),
    // days: 0001-01-01, the day before the epoch, the epoch, 9999-12-31
    Case(DateType, Seq(-719162, -1, 0, 1, 2932896),
      Seq(-719162, -1, 0, 2932896)),
    Case(TimestampType, Seq(MinMicros, -1L, 0L, 1L, MaxMicros),
      Seq(MinMicros, -1L, 0L, MaxMicros)),
    Case(TimestampNTZType, Seq(MinMicros, -1L, 0L, 1L, MaxMicros),
      Seq(MinMicros, -1L, 0L, MaxMicros)),
    Case(YearMonthIntervalType(), Seq(Int.MinValue, -1, 0, 1, Int.MaxValue),
      Seq(Int.MinValue, 0, Int.MaxValue)),
    Case(DayTimeIntervalType(), Seq(Long.MinValue, -1L, 0L, 1L,
      Long.MaxValue), Seq(Long.MinValue, 0L, Long.MaxValue)))

  private def typed(v: Any, t: DataType): Column = column(Literal.create(v, t))

  /** The case's values as one parquet file, column `c`, NULL last. */
  private lazy val paths: Map[DataType, String] = cases.map { k =>
    val values = k.stored :+ null
    val p = graft.ScratchDirs.create("graft-paramlit-").resolve("p").toString
    val pick = values.zipWithIndex.foldLeft(typed(null, k.t)) {
      case (acc, (v, i)) => when(col("id") === i, typed(v, k.t)).otherwise(acc)
    }
    spark.range(0, values.size, 1, 1).select(pick.as("c")).write.parquet(p)
    k.t -> p
  }.toMap

  private def comparisons(c: Column, v: Column): Seq[Column] =
    Seq(c < v, c <= v, c === v, c <=> v, c > v, c >= v, c =!= v)

  /** Every comparison with every literal, NULL included, each as its
    * own FilterExec under a union. */
  private def filters(s: SparkSession, k: Case): DataFrame = {
    val df = s.read.parquet(paths(k.t))
    val c = col("c")
    (k.literals :+ null).flatMap(v => comparisons(c, typed(v, k.t)))
      .zipWithIndex.map { case (p, i) =>
        df.filter(p).select(lit(i).as("q"), c) }
      .reduce(_ unionAll _).repartition(2)
  }

  /** Every comparison with every literal as one projection. */
  private def projections(s: SparkSession, k: Case): DataFrame = {
    val c = col("c")
    s.read.parquet(paths(k.t)).select(c +: (k.literals :+ null)
      .flatMap(v => comparisons(c, typed(v, k.t))): _*).repartition(2)
  }

  /** Arithmetic with every literal: the try_ forms (which never throw)
    * under ANSI, and for numbers the plain operators with ANSI off,
    * where integral overflow wraps (interval overflow throws either
    * way, so intervals have only the try_ forms). */
  private def arithmetic(s: SparkSession, k: Case, ansi: Boolean)
      : DataFrame = {
    val c = col("c")
    val numeric = k.t.isInstanceOf[NumericType]
    val ops = (k.literals :+ null).flatMap { x =>
      val v = typed(x, k.t)
      if (!ansi) Seq(c + v, c - v, c * v, c / v, c % v, pmod(c, v))
      else Seq(try_add(c, v), try_subtract(c, v)) ++ (
        if (numeric) Seq(try_multiply(c, v), try_divide(c, v), try_mod(c, v))
        else Nil)
    }
    s.read.parquet(paths(k.t)).select(c +: ops: _*).repartition(2)
  }

  private def params(plan: SparkPlan): Int = collect(plan) { case p =>
    p.expressions.map(_.collect { case x: ParamLiteral => x }.size).sum
  }.sum

  /** The query's rows as a multiset, floating values by their bits
    * (-0.0 is not 0.0; every NaN is one NaN), or the error condition
    * it failed with. */
  private def outcome(df: DataFrame): Either[String, Map[Seq[Any], Int]] =
    Try(df.collect().toSeq).toEither.left.map(e =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq.lastOption.getOrElse(e.getClass.getName)
    ).map(_.map(_.toSeq.map {
      case f: Float => "f" + java.lang.Float.floatToIntBits(f)
      case d: Double => "d" + java.lang.Double.doubleToLongBits(d)
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size })

  private val aqeModes = Seq("AQE on" -> "true", "AQE off" -> "false")

  for (k <- cases) test(s"${k.t.sql}: comparison and arithmetic filters " +
      "and projections over edge values match a session without the " +
      "rule, in both codegen modes, with AQE on and off") {
    val numeric = k.t.isInstanceOf[NumericType]
    val queries = Seq[(String, SparkSession => DataFrame, Boolean)](
      ("filters", filters(_, k), true),
      ("projections", projections(_, k), true),
      ("ANSI arithmetic", arithmetic(_, k, ansi = true),
        numeric || k.t.isInstanceOf[YearMonthIntervalType] ||
          k.t.isInstanceOf[DayTimeIntervalType]),
      ("wrapping arithmetic", arithmetic(_, k, ansi = false), numeric))
      .collect { case (what, query, true) => what -> query }
    for ((mode, codegen) <- SparkSuite.codegenModes;
        (aqeName, aqe) <- aqeModes; (what, query) <- queries) {
      val ansi = what != "wrapping arithmetic"
      val conf = codegen ++ Map("spark.sql.adaptive.enabled" -> aqe,
        "spark.sql.ansi.enabled" -> ansi.toString)
      conf.foreach { case (key, v) => bare.conf.set(key, v) }
      val want = outcome(query(bare))
      withConf(conf) {
        val df = query(spark)
        val got = outcome(df)
        val where = s"${k.t.sql} $what, $mode, $aqeName"
        assert(got === want, where)
        assert(want.isRight, s"$where: ${want.left.getOrElse("")}")
        val plan = df.queryExecution.executedPlan
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec] === (aqe == "true"),
          where)
        assert(params(plan) > 0, s"$where: nothing was rewritten")
      }
    }
  }

  test("a typed overflow still fails with the same error under ANSI") {
    def q(s: SparkSession) = s.read.parquet(paths(LongType))
      .select(col("c") + typed(1L, LongType),
        col("c") * typed(Long.MaxValue, LongType))
    for ((mode, codegen) <- SparkSuite.codegenModes) {
      val conf = codegen + ("spark.sql.ansi.enabled" -> "true")
      conf.foreach { case (key, v) => bare.conf.set(key, v) }
      val want = outcome(q(bare))
      assert(want === Left("ARITHMETIC_OVERFLOW"), mode)
      withConf(conf)(assert(outcome(q(spark)) === want, mode))
    }
  }

  test("the rewrite leaves plan text, NULL literals, IN lists and the " +
      "scan's filters as they were") {
    for (k <- cases) {
      val plan = filters(spark, k).queryExecution.sparkPlan
      val rewritten = ParamLiterals(plan)
      assert(params(rewritten) > 0, k.t.sql)
      // a copied exchange takes a new plan id; nothing else may change
      def text(p: SparkPlan) = p.treeString(verbose = true, addSuffix = true)
        .replaceAll("plan_id=[0-9]+", "plan_id")
      assert(text(rewritten) === text(plan), k.t.sql)
      val scans = (p: SparkPlan) => collect(p) { case s: FileSourceScanExec =>
        s.dataFilters }
      assert(scans(rewritten) === scans(plan), k.t.sql)
    }
    val scan = spark.read.parquet(paths(LongType)).queryExecution.sparkPlan
    val c = scan.output.head
    val nul = Literal.create(null, LongType)
    val in = In(c, Seq(Literal(1L), Literal(2L)))
    val cond: Expression =
      And(And(EqualTo(c, nul), in), GreaterThan(c, Literal(5L)))
    val got = ParamLiterals(FilterExec(cond, scan))
      .asInstanceOf[FilterExec].condition
    assert(got === And(And(EqualTo(c, nul), in),
      GreaterThan(c, ParamLiteral(Literal(5L)))))
    assert(ParamLiteral(Literal(5L)).sql === Literal(5L).sql)
  }

  test("a MOR point lookup with a new key compiles no new class and " +
      "still pushes the key bounds into the scan") {
    val t = GraftTable.create(spark,
      graft.ScratchDirs.create("graft-paramlit-").resolve("t"), "default.t",
      StructType.fromDDL("o_orderkey BIGINT, o_totalprice DOUBLE"),
      Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark.range(0, 20000, 1, 2)
      .selectExpr("id AS o_orderkey", "id * 0.5 AS o_totalprice"))
    t.delete(col("o_orderkey") % 100 === 7)
    t.equalityDelete(spark.range(0, 20000, 50, 1)
      .selectExpr("id AS o_orderkey"))
    assert(t.manifestOf(t.currentSnapshot.get).map(_.content).toSet ===
      Set(0, 1, 2))
    def lookup(k: Long): DataFrame =
      t.readWhere(col("o_orderkey").between(k, k))
        .agg(count(lit(1)), sum(col("o_totalprice")))
    assert(lookup(1001).head() === Row(1L, 500.5))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val df = lookup(1002)
    assert(df.head() === Row(1L, 501.0))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0)
    val pushed = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed.nonEmpty)
    pushed.foreach(p => assert(
      p.contains("GreaterThanOrEqual(o_orderkey,1002)") &&
        p.contains("LessThanOrEqual(o_orderkey,1002)"), p))
  }
}
