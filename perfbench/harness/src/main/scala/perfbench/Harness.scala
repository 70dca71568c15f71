package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable

/** One benchmark run in this JVM: a warm-up pass that also dumps every
  * result for the oracle comparison, then the measured passes, then
  * (with `--trace 1`) two traced passes and the function kernels.
  *
  * Usage: perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *          --sf DIR --out DIR --cores N
  *
  * Writes `<out>/harness.json` (raw timings; the runner script turns
  * them into metrics), `<out>/oracle_sql.json` and `<out>/results/`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = opt.getOrElse(k, {
      System.err.println(s"missing --$k"); sys.exit(2)
    })
    val workload = Workloads.byName(need("workload")).getOrElse {
      System.err.println(s"unknown workload ${need("workload")}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val sfDir = need("sf")
    val out = new File(need("out"))
    val cores = need("cores").toInt

    val spark = graft.GraftSession.local(cores)
    val sessionReadyMs = System.currentTimeMillis()
    val runner = new Runner(spark, sfDir,
      new File(System.getProperty("java.io.tmpdir")))
    def rng(pass: Int) = new scala.util.Random(seed * 1000003L + pass)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "cores" -> cores,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_ready_ms" -> sessionReadyMs)
    // Executions per key, and one entry per execution that threw.
    val executions = mutable.LinkedHashMap[String, Int]()
    val errors = mutable.ArrayBuffer[Map[String, String]]()
    def record(pass: String, keys: Seq[String], errs: Seq[(String, String)]): Unit = {
      keys.foreach(k => executions(k) = executions.getOrElse(k, 0) + 1)
      errs.foreach { case (k, v) => errors += Map("pass" -> pass, "key" -> k, "error" -> v) }
    }

    // Warm-up: JIT, codegen, parquet footers and every artifact the
    // workload builds. Results go to parquet for the oracle check.
    val results = new File(out, "results")
    if (workload.purgesArtifacts) runner.purgeArtifacts()
    val warmup = workload.pass(rng(0))
    record("warmup", warmup.map(_.key), warmup.flatMap { e =>
      runner.dump(e.query, new File(results, e.key)).map(e.key -> _)
    })
    awaitJitQuiet()
    report("warmup_end_ms") = System.currentTimeMillis()

    val passes = math.max(1, math.round(seconds / workload.nominalPassSeconds).toInt)
    val measured = (1 to passes).map { p =>
      val pr = measuredPass(runner, workload, rng(p))
      record(s"pass$p", pr.keys, pr.errors)
      pr
    }
    report("peak_rss_mb") = peakRssMb
    report("measured") = measured.map(_.json)

    if (traced) {
      // Traced, untraced, traced: the untraced pass sits at the traced
      // passes' mean position, so the overhead ratio compares passes of
      // the same mean JIT warmth.
      val tracer = new Tracer(runner, cores)
      val t1 = tracer.pass(workload, rng(passes + 1))
      val between = measuredPass(runner, workload, rng(passes + 1))
      val t2 = tracer.pass(workload, rng(passes + 1))
      record("traced1", t1.keys, t1.errors)
      record("between", between.keys, between.errors)
      record("traced2", t2.keys, t2.errors)
      val overhead = (t1.wallNs + t2.wallNs).toDouble / (2 * between.wallNs)
      report("trace") = Map(
        "metrics" -> (Tracer.combine(t1.metrics, t2.metrics) ++
          FnBench.run(spark, sfDir) + ("trace.overhead" -> overhead)),
        "nonrepeating" -> Tracer.nonRepeating(t1, t2),
        "exact_counts" -> Tracer.ExactCounts)
    }

    report("executions") = executions.toMap
    report("errors") = errors.toList
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new File(out, "oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter { case (k, _) => workload.queries.contains(k) })
    json.writeValue(new File(out, "harness.json"), report)
    // Everything is written; the runner deletes the run directory, so
    // skip Spark's shutdown (about 2 s per run).
    Runtime.getRuntime.halt(0)
  }

  final case class PassResult(wallNs: Long, cpuNs: Long,
                              times: Seq[(String, Long)],
                              errors: Seq[(String, String)]) {
    def keys: Seq[String] = times.map(_._1) ++ errors.map(_._1)
    def json: Map[String, Any] = Map(
      "wall_s" -> wallNs / 1e9, "cpu_s" -> cpuNs / 1e9,
      "times_ms" -> times.map { case (k, ns) => Seq(k, ns / 1e6) })
  }

  private def measuredPass(runner: Runner, w: Workload,
                           rng: scala.util.Random): PassResult = {
    val execs = w.pass(rng)
    if (w.purgesArtifacts) runner.purgeArtifacts()
    System.gc()
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    val outcomes = execs.map(e => e.key -> runner.timed(e.query))
    val wall = System.nanoTime() - t0
    PassResult(wall, processCpuNs - cpu0,
      outcomes.collect { case (k, Right(ns)) => k -> ns },
      outcomes.collect { case (k, Left(err)) => k -> err })
  }

  /** Waits (at most 3 s) until the JIT compilers have been idle for
    * 300 ms, so compilations queued by the warm-up finish inside set-up
    * instead of competing with the measured pass for the cores. */
  private def awaitJitQuiet(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM: the peak resident set of this JVM. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
