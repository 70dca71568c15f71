package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.Chaos

/** ChaosExec fault injection + Spark task-retry recovery — the analogue of
  * the reference's chaos suite (`chaos_exec.rs`, `chaos-testing/`). Uses a
  * dedicated session with task retries enabled (local[4,2]). */
class ChaosSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // Through GraftSession like every other spec: the codegen cache is
    // JVM-wide and sized by the first session that generates code.
    spark = GraftSession.builder(4, 4)
      .master("local[4,2]") // 2 task attempts: retry absorbs the fault
      .appName("graft-chaos")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("ChaosNode plans to ChaosExec via the injected strategy") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val chaotic = Chaos.inject(spark, df, runId = "plan-check",
      failPartition = -1) // no fault, just the plan
    // SparkPlan.nodeName strips the Exec suffix: renders as "Chaos <args>"
    assert(chaotic.queryExecution.executedPlan.toString()
      .startsWith("Chaos "))
    assert(chaotic.count() == 25)
  }

  test("injected transient fault is absorbed by task retry") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .repartition(4)
    val runId = s"retry-${System.nanoTime()}"
    val chaotic = Chaos.inject(spark, df, runId, failPartition = 2)
    // First attempt of partition 2 throws; Spark retries the task and the
    // query must still produce the full, correct result.
    val n = chaotic.count()
    assert(n == df.count())
    assert(Chaos.attemptCount(runId) >= 5,
      s"expected a retried attempt, saw ${Chaos.attemptCount(runId)}")
  }

  test("fatal fault exhausts retries and fails the job with the chaos error") {
    // Reference: the terminal FailedTask path (ballista.proto:607-679) — a
    // non-retryable failure reason fails the JOB, it is not rescheduled
    // forever. Here every attempt of partition 1 throws; local[4,2] allows
    // 2 attempts, then Spark aborts the stage and surfaces the cause.
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .repartition(4)
    val runId = s"fatal-${System.nanoTime()}"
    val chaotic = Chaos.inject(spark, df, runId, failPartition = 1,
      fatal = true)
    val e = intercept[org.apache.spark.SparkException] { chaotic.count() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("chaos") &&
        m.contains("FATAL")),
      s"chaos cause not surfaced: ${chain(e).mkString(" | ")}")
    // both allowed attempts of the target partition actually ran
    assert(Chaos.attemptCount(runId) >= 5,
      s"expected retries before the abort, saw ${Chaos.attemptCount(runId)}")
  }

  test("delay fault makes a straggler but the result is complete") {
    // Reference ChaosExec delay mode: the partition is slow, not broken —
    // the job must finish with the full result and no retries.
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .repartition(4)
    val runId = s"delay-${System.nanoTime()}"
    val chaotic = Chaos.inject(spark, df, runId, failPartition = 2,
      delayMs = 500L)
    val t0 = System.nanoTime()
    val n = chaotic.count()
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(n == 25)
    assert(elapsedMs >= 500L, s"straggler delay not observed ($elapsedMs ms)")
    assert(Chaos.attemptCount(runId) == 4,
      s"delay must not trigger retries, saw ${Chaos.attemptCount(runId)}")
  }
}
