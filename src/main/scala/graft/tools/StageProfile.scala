package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.collection.mutable.ArrayBuffer

/** Per-stage profile of one declared query (guide §1: find where the time
  * goes before touching anything).
  *
  * Usage: runMain graft.tools.StageProfile <query> [query ...]
  * Runs each query once as warmup (JIT/codegen/artifact build), once
  * measured, and prints per-stage: wall time, executor run/cpu time,
  * shuffle read/write bytes, spill, task count, and the stage name.
  * Also prints each run's Janino compile count and compile ms: with the
  * JVM-wide codegen cache (see [[graft.GraftSession]]) the measured run
  * compiles nothing, so a nonzero count there is a recompile regression.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  runMs: Long, cpuMs: Long, shRead: Long, shWrite: Long,
                  spill: Long, inBytes: Long, outRows: Long)
    val stages = ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += St(i.stageId, i.name.takeWhile(_ != '\n'),
          i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten)
      }
    }

    /** Runs `body`; returns the classes it compiled and their compile ms. */
    def compiles(body: => Unit): (Long, Double) = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      body
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
        (CodeGenerator.compileTime - ns0) / 1e6)
    }

    args.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      // warmup: artifacts + JIT
      spark.catalog.clearCache()
      val (warmN, warmMs) = compiles {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val (runN, runMs) = compiles {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the listener bus drain the final stage events
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $q: $sec%.2f s, ${stages.size} stages ==")
      println(f"  codegen: warmup compiled $warmN classes in $warmMs%.0f ms, " +
        f"measured compiled $runN classes in $runMs%.0f ms")
      val tot = stages.map(_.wallMs).sum
      stages.sortBy(-_.wallMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d wall=${s.wallMs}%6d ms (${100.0 * s.wallMs / math.max(tot, 1)}%4.1f%%) " +
          f"run=${s.runMs}%7d cpu=${s.cpuMs}%7d tasks=${s.tasks}%3d " +
          f"shR=${s.shRead / 1024}%8d K shW=${s.shWrite / 1024}%8d K " +
          f"spill=${s.spill / 1024}%7d K in=${s.inBytes / 1024}%8d K  ${s.name.take(80)}")
      }
      println(f"  total stage wall: $tot ms; stages: ${stages.size}")
    }
    spark.stop()
  }
}
