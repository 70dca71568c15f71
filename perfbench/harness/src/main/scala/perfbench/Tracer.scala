package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Listener state of one query window. Events arrive on the listener
  * bus thread; readers drain the bus first (`ListenerBus.drain`). */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._

  val jobs = mutable.ArrayBuffer[Int]()
  val stages = mutable.ArrayBuffer[Stage]()
  val tasks = mutable.ArrayBuffer[Task]()
  /** optimization + planning ms of each SQL execution that ended. */
  val planningMs = mutable.ArrayBuffer[Long]()

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); planningMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += e.jobId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.fetchWaitTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planningMs += Seq("optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Collector {
  final case class Stage(id: Int, numTasks: Int, submitted: Long, completed: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                        shWriteBytes: Long, shReadBytes: Long,
                        shRecords: Long, shWriteNs: Long, fetchWaitMs: Long,
                        inBytes: Long, inRows: Long, spillBytes: Long,
                        peakExecBytes: Long)
}

/** Traced passes: every call into a layer's public function is timed
  * and the Spark listener's per-task statistics are attributed to the
  * query whose window they fell in. */
final class Tracer(runner: Runner, cores: Int) {
  import Tracer._

  private val spark = runner.spark
  private val collector = new Collector

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def pass(w: Workload, rng: scala.util.Random): Result = {
    val acc = mutable.LinkedHashMap[String, Double]()
    Metrics.foreach(acc(_) = 0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    var stageActiveMs = 0.0
    val times = mutable.LinkedHashMap[String, Double]()
    val exactByQuery = mutable.LinkedHashMap[String, Map[String, Double]]()
    val errors = mutable.ArrayBuffer[(String, String)]()
    val execs = w.pass(rng)
    if (w.purgesArtifacts) runner.purgeArtifacts()
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
    val t0 = System.nanoTime()
    execs.foreach { e =>
      runner.clearCache()
      drain(); collector.reset()
      val w0 = System.currentTimeMillis()
      val q0 = System.nanoTime()
      try {
        val df = runner.build(e.query)
        val q1 = System.nanoTime()
        drain()
        val eagerJobs = collector.synchronized {
          val n = collector.jobs.size; collector.planningMs.clear(); n }
        df.write.format("noop").mode("overwrite").save()
        val q2 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        drain()
        val cached = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        val wallMs = (q2 - q0) / 1e6
        times(e.key) = wallMs
        collector.synchronized {
          val ts = collector.tasks
          val counts = Map(
            "plan.eager_jobs" -> eagerJobs.toDouble,
            "sched.jobs" -> collector.jobs.size.toDouble,
            "sched.stages" -> collector.stages.size.toDouble,
            "sched.tasks" -> ts.size.toDouble,
            "shuffle.records" -> ts.map(_.shRecords).sum.toDouble,
            "scan.input_rows" -> ts.map(_.inRows).sum.toDouble)
          exactByQuery(e.key) = counts
          counts.foreach { case (k, v) => add(k, v) }
          add("plan.build_ms", (q1 - q0) / 1e6)
          add("plan.optimize_ms", collector.planningMs.sum.toDouble)
          add("sched.single_task_stages", collector.stages.count(_.numTasks == 1))
          add("exec.task_run_ms", ts.map(_.runMs).sum)
          add("exec.task_cpu_ms", ts.map(_.cpuNs).sum / 1e6)
          add("exec.gc_ms", ts.map(_.gcMs).sum)
          add("shuffle.write_bytes", ts.map(_.shWriteBytes).sum)
          add("shuffle.read_bytes", ts.map(_.shReadBytes).sum)
          add("shuffle.write_ms", ts.map(_.shWriteNs).sum / 1e6)
          add("shuffle.fetch_wait_ms", ts.map(_.fetchWaitMs).sum)
          add("scan.input_bytes", ts.map(_.inBytes).sum)
          add("mem.spill_bytes", ts.map(_.spillBytes).sum)
          acc("mem.peak_exec_bytes") = math.max(acc("mem.peak_exec_bytes"),
            ts.map(_.peakExecBytes).maxOption.getOrElse(0L).toDouble)
          add("mem.cached_bytes", cached)
          acc("sched.task_skew") = math.max(acc("sched.task_skew"), skew(ts.toSeq))
          val active = activeMs(collector.stages.toSeq, w0, w1)
          stageActiveMs += active
          add("sched.driver_gap_ms", math.max(0.0, wallMs - active))
          moduleOf.get(e.query).foreach(m => add(s"mod.${m}_s", wallMs / 1e3))
        }
      } catch {
        case scala.util.control.NonFatal(err) =>
          errors += e.key -> Runner.describe(err)
          times(e.key) = (System.nanoTime() - q0) / 1e6
      }
    }
    val wall = System.nanoTime() - t0
    spark.sparkContext.removeSparkListener(collector)
    spark.listenerManager.unregister(collector)
    acc("sched.slot_util") =
      if (stageActiveMs <= 0) 0.0
      else acc("exec.task_run_ms") / (stageActiveMs * cores)
    w match {
      case l: Lifecycle =>
        l.kindOf.foreach { case (q, kind) =>
          add(s"index.build_ms.$kind",
            times.getOrElse(s"$q@${Exec.Cold}", 0.0) -
              times.getOrElse(s"$q@${Exec.Warm}", 0.0))
          add("index.probe_ms", times.getOrElse(s"$q@${Exec.Warm}", 0.0))
        }
      case _ =>
    }
    val (bytes, files) = runner.artifactFootprint
    acc("index.bytes") = bytes.toDouble
    acc("index.files") = files.toDouble
    Result(wall, execs.map(_.key), errors.toSeq, acc.toMap, exactByQuery.toMap)
  }
}

object Tracer {

  final case class Result(wallNs: Long, keys: Seq[String],
                          errors: Seq[(String, String)],
                          metrics: Map[String, Double],
                          exactByQuery: Map[String, Map[String, Double]])

  /** Exact counts that differ between two passes, each with the
    * executions whose own count differs. */
  def nonRepeating(a: Result, b: Result): Seq[Map[String, Any]] =
    ExactCounts.filter(k => a.metrics(k) != b.metrics(k)).map { k =>
      Map("name" -> k, "first" -> a.metrics(k), "second" -> b.metrics(k),
        "executions" -> a.exactByQuery.keys.toSeq.sorted.filter { q =>
          a.exactByQuery(q).get(k) != b.exactByQuery.get(q).flatMap(_.get(k))
        })
    }

  /** Module objects that own workload queries, by the name reported
    * in `mod.<Module>_s`. */
  private val moduleQueries: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "Subqueries" -> graft.queries.Subqueries.queries.keySet,
    "H2o" -> graft.queries.H2o.queries.keySet,
    "Windows" -> graft.queries.Windows.queries.keySet,
    "Temporal" -> graft.queries.Temporal.queries.keySet,
    "Dedup" -> graft.llm.Dedup.queries.keySet,
    "Similarity" -> graft.llm.Similarity.queries.keySet,
    "TextAnalysis" -> graft.llm.TextAnalysis.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet)

  val moduleOf: Map[String, String] =
    moduleQueries.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  val IndexKinds: Seq[String] = Seq("ann", "ingest", "postings", "cluster")

  /** Every per-pass metric, in report order. */
  val Metrics: Seq[String] = Seq(
    "plan.build_ms", "plan.optimize_ms", "plan.eager_jobs",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.single_task_stages",
    "sched.task_skew", "sched.slot_util", "sched.driver_gap_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.write_ms", "shuffle.fetch_wait_ms",
    "scan.input_bytes", "scan.input_rows",
    "mem.spill_bytes", "mem.peak_exec_bytes", "mem.cached_bytes") ++
    IndexKinds.map(k => s"index.build_ms.$k") ++
    Seq("index.probe_ms", "index.bytes", "index.files") ++
    moduleQueries.map { case (m, _) => s"mod.${m}_s" }

  /** Counts that must repeat exactly between two traced passes. */
  val ExactCounts: Seq[String] = Seq("sched.jobs", "sched.stages",
    "sched.tasks", "plan.eager_jobs", "shuffle.records", "scan.input_rows",
    "index.files")

  /** Exact counts from the first pass; everything else averaged. */
  def combine(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (if (ExactCounts.contains(k)) v else (v + b(k)) / 2) }

  /** max over stages of (slowest task ÷ median task) run time. */
  private def skew(tasks: Seq[Collector.Task]): Double =
    tasks.groupBy(_.stage).values.map { ts =>
      val runs = ts.map(_.runMs.toDouble).sorted
      runs.last / math.max(1.0, runs(runs.size / 2))
    }.maxOption.getOrElse(0.0)

  /** Length of the union of stage [submitted, completed] intervals,
    * clipped to the query window [from, to] (epoch ms). */
  private def activeMs(stages: Seq[Collector.Stage], from: Long, to: Long): Double = {
    val iv = stages.map(s => (math.max(s.submitted, from), math.min(s.completed, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (total + curB - curA).toDouble
  }
}
