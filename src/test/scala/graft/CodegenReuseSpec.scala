package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Every generated class is compiled once per JVM (GraftSession's codegen
  * profile): running the same plan again must hit Spark's generated-class
  * cache for every class. The list generates more classes than Spark's
  * default cache holds (100) and includes v09, whose concurrent AQE stages
  * materialize in a run-dependent order — with stage ids in class names
  * that order alone renamed, and so recompiled, its pipelines.
  *
  * The same order can also make AQE pick another join strategy or build
  * side (v09 did in 5 of 26 repeated runs). That is a different plan, and
  * its pipelines are new code, so a query's second run must compile
  * nothing exactly when its final adaptive plan repeats. Queries with a
  * varying plan in most runs (a01's distinct-group numbering, m05, v08)
  * are left out, as are artifact builders (a second run probes instead of
  * builds) and queries other specs execute, so the first pass's count does
  * not depend on which suites ran earlier in the JVM. */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val Queries = Seq("v09_ivf_trained", "c06_channel_intersect",
    "c13_monthly_deviation", "c16_multi_supplier_returns",
    "j14_correlated_scalar", "p09_funnel", "q16_supplier_cnt",
    "w03_lag_lead")

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(4, 4).appName("graft-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    // Render scan metadata in full: the default cut point moves with the
    // digit width of expression ids, which differs between runs.
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The final adaptive plan with per-run ids masked. */
  private def shape(plan: String): String = plan
    .replaceAll("#\\d+L?", "#N")
    .replaceAll("\\*\\(\\d+\\)", "*(K)")
    .replaceAll("(QueryStage |plan_id=)\\d+", "$1K")
    .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_K")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")

  /** Runs every query once: per query, the classes it compiled and the
    * shape of its final plan. */
  private def pass(): Map[String, (Long, String)] = Queries.map { q =>
    spark.catalog.clearCache()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
      shape(df.queryExecution.executedPlan.toString))
  }.toMap

  test("a second run of the same plan compiles no class") {
    val first = pass()
    val firstCount = first.values.map(_._1).sum
    assert(firstCount > 100,
      s"first pass compiled only $firstCount classes; the list must " +
        "overflow Spark's default 100-entry cache to guard its size")
    val second = pass()
    val repeated = Queries.filter(q => first(q)._2 == second(q)._2)
    assert(repeated.size >= Queries.size / 2,
      s"only ${repeated.mkString(", ")} repeated their plans")
    val recompiled = repeated.filter(q => second(q)._1 > 0)
      .map(q => s"$q: ${second(q)._1}")
    assert(recompiled.isEmpty,
      s"same plan, recompiled classes: ${recompiled.mkString(", ")}")
  }
}
