package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** EXPLAIN ANALYZE analogue — the reference's
  * `DistributedExplainAnalyzeExec`
  * (`core/src/execution_plans/distributed_explain_analyze.rs:46`, client
  * test `context_checks.rs:1129`) runs the query and then renders
  * per-stage operator metrics as a result table. Spark records the same
  * per-operator SQL metrics on the executed plan; this walks the final
  * (post-AQE) plan and emits them as rows.
  */
object ExplainAnalyze {

  /** Executes `df` (so metrics populate and AQE finalizes) and returns
    * its final physical plan, unwrapped from `AdaptiveSparkPlanExec`. */
  private def executedFinal(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
  }

  /** Run the query, then return (operator, metric, value) rows from the
    * executed plan's SQL metrics. */
  def run(spark: SparkSession, df: DataFrame): DataFrame = {
    val finalPlan = executedFinal(df)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var id = 0
    def walk(p: SparkPlan): Unit = {
      val node = id; id += 1
      p.metrics.foreach { case (name, m) =>
        rows += ((node, p.nodeName, name, m.value))
      }
      // QueryStageExec nodes are leaves whose materialized subtree hangs
      // off `plan`, not `children` — descend through them.
      p match {
        case q: QueryStageExec => walk(q.plan)
        case _                 => p.children.foreach(walk)
      }
    }
    walk(finalPlan)
    import spark.implicits._
    rows.toSeq.toDF("node_id", "operator", "metric", "value")
  }

  /** Per-STAGE exchange table — the closest Spark analogue of the
    * reference's per-stage rendering in `DistributedExplainAnalyzeExec`
    * (`distributed_explain_analyze.rs:46`): one row per materialized
    * query stage of the post-AQE plan (shuffle or broadcast exchange),
    * with its shuffle write/read record and byte counters. AQE stages ARE
    * Spark's distributed execution stages, so this is the table an
    * operator would read to find the shuffle that dominates a job. */
  def stageTable(spark: SparkSession, df: DataFrame): DataFrame = {
    val finalPlan = executedFinal(df)
    val seen = scala.collection.mutable.Set.empty[Int]
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Long, Long)]
    def walk(p: SparkPlan): Unit = p match {
      case q: QueryStageExec =>
        if (seen.add(q.id)) {
          val m = q.plan.metrics
          def g(k: String): Long =
            m.get(k).map(_.value).getOrElse(0L) max 0L
          rows += ((q.id.toLong, q.plan.nodeName,
            g("shuffleRecordsWritten"), g("shuffleBytesWritten"),
            g("recordsRead"), g("localBytesRead") + g("remoteBytesRead"),
            g("dataSize")))
        }
        walk(q.plan)
      case _ => p.children.foreach(walk)
    }
    walk(finalPlan)
    import spark.implicits._
    rows.toSeq.sortBy(_._1).toDF("stage_id", "stage",
      "shuffle_records_written", "shuffle_bytes_written",
      "shuffle_records_read", "shuffle_bytes_read", "data_size_bytes")
  }

  /** Human-readable rendering (the EXPLAIN ANALYZE "result table"). */
  def render(spark: SparkSession, df: DataFrame): String = {
    val m = run(spark, df)
    m.collect().groupBy(r => (r.getInt(0), r.getString(1)))
      .toSeq.sortBy(_._1._1)
      .map { case ((id, op), rs) =>
        val ms = rs.map(r => s"${r.getString(2)}=${r.getLong(3)}")
          .sorted.mkString(", ")
        f"[$id%3d] $op%-30s $ms"
      }.mkString("\n")
  }
}
