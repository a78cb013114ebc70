package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  override def afterAll(): Unit = () // session shared across suites

  /** `f` with `conf` set on the shared session; every key is restored
    * (or unset) afterwards. */
  def withConf[A](conf: Map[String, String])(f: => A): A = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSuite {
  /** The two ways an expression can run: whole-stage codegen with no
    * interpreted fallback, and codegen off entirely. */
  val codegenModes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.catalog.graft", "graft.lake.sql.GraftSqlCatalog")
    .config("spark.sql.catalog.graft.warehouse",
      graft.ScratchDirs.create("graft-sqlwh-").toString)
    .config("spark.ui.enabled", "false")
    // Standing guard: no engine code path may funnel a large result
    // through the driver. Any test that tries to collect >32 MiB of
    // task results fails loudly instead of silently scaling O(data).
    .config("spark.driver.maxResultSize", "32m")
    .getOrCreate()
}
