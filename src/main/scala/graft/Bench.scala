package graft
import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main.
  *
  * Round-8 restructure — trustworthy timings: a single 200+-query JVM
  * accumulates codegen classes, broadcast refs and old-gen garbage
  * until heavy join/agg queries measure JVM pressure instead of the
  * plan (observed up to ~31× inflation, run-to-run totals moving 20%).
  * The fix mirrors the reference's benches running one suite per
  * process invocation (`benchmarks/src/bin/tpch.rs`): the parent forks
  * one FRESH CHILD JVM per query family (sequentially — concurrent
  * children would contend for the same cores and re-poison the
  * numbers), and each child runs a full warmup pass then TWO measured
  * passes, reporting best-of-2 per query so a transient load spike on
  * one pass can't masquerade as a regression.
  *
  * Earlier methodology (retained): noop sink keeps ORDER BY / final
  * project in the measured plan; warmup pass warms JIT/codegen/parquet
  * footers (and builds the d21/v18 materialized indexes, so measured
  * passes time the probe, as production would); failures surface as
  * "errors" in the JSON instead of fake timings; cache cleared between
  * queries so persisted intermediates don't accumulate.
  */
object Bench {

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Machine-load sentinel (round 9): raw seconds from a shared box
    * drift ±20% (occasionally 2×) with co-located load, so the README
    * rule was "compare across sessions only after normalizing by a
    * sentinel". The artifact now carries its own calibration: EVERY
    * child JVM measures this fixed scan+join+agg query after its group
    * (same 1-warmup + best-of-2 discipline), the parent emits the runs,
    * their median (`sentinel_sec`), and `value_per_sentinel` =
    * total ÷ median — the number to compare round over round. Per-query
    * comparisons divide the query's seconds by `sentinel_sec` the same
    * way. */
  private val Sentinel = "q10_returns"

  private def measureSentinel(
      spark: org.apache.spark.sql.SparkSession): Double = {
    val fn = SparkEntry.queries(Sentinel)
    runOne(spark, fn) // warmup (fresh JVM: JIT + codegen + footers)
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      runOne(spark, fn)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Pin-freshness fields of a committed measurement artifact
    * (`bench_pinned.json`, `ann_build.json`): `head_commit` measured
    * and `src_dirty`, whether `src/main` had uncommitted changes.
    * PinFreshnessSpec fails the suite when src/main gains commits after
    * the pinned one, or when `src_dirty` is missing or true. Each field
    * is omitted when git cannot answer, so a pin made without git never
    * claims a clean tree. The leading comma joins the enclosing object. */
  private[graft] def provenanceJson: String = {
    def git(cmd: String*): Option[String] = try {
      val p = new ProcessBuilder(("git" +: cmd).asJava)
        .redirectErrorStream(true).start()
      val o = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0) Some(o) else None
    } catch { case _: Throwable => None }
    git("rev-parse", "HEAD").fold("") { h =>
      val dirty = git("status", "--porcelain", "--", "src/main")
        .fold("")(d => s""","src_dirty":${d.nonEmpty}""")
      s""","head_commit":"$h"$dirty"""
    }
  }

  private def selectedNames: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--child", out) => childMain(out)
    case _ => parentMain()
  }

  // ---------------------------------------------------------------- parent

  /** Family-preserving greedy packing: queries share a child only with
    * their own family (prefix before the first '_' digit boundary keeps
    * e.g. q1/q18 + h-series apart from d-series), families pack into
    * bins of at most [[MaxPerChild]] so no JVM executes more than
    * ~3×30 plans including warmup. */
  private val MaxPerChild = 30

  private def groups(names: Seq[String]): Seq[Seq[String]] = {
    val fams = names.groupBy(_.takeWhile(_.isLetter)).toSeq
      .sortBy(_._1).flatMap { case (_, qs) =>
        qs.sorted.grouped(MaxPerChild).toSeq // split oversized families
      }
    // Greedy fill: merge consecutive small families up to the cap so
    // tiny families (x, s, m) don't each pay a JVM+session start.
    fams.foldLeft(Vector.empty[Vector[String]]) { (acc, fam) =>
      acc.lastOption match {
        case Some(last) if last.size + fam.size <= MaxPerChild =>
          acc.init :+ (last ++ fam)
        case _ => acc :+ fam.toVector
      }
    }
  }

  private def parentMain(): Unit = {
    val names = selectedNames
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    // Round-10 (verdict #4): attribute in-suite inflation per child —
    // each group records ITS child's sentinel so a q9-style in-suite
    // number is mechanically traceable to its JVM's load window.
    val groupInfo = scala.collection.mutable
      .ArrayBuffer[(Seq[String], Option[Double], Option[Double])]()

    val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-agentlib")).toSeq
    val cp = System.getProperty("java.class.path")

    groups(names).zipWithIndex.foreach { case (grp, gi) =>
      val out = Files.createTempFile(s"graft_bench_g$gi", ".tsv")
      val cmd = (javaBin +: jvmArgs) ++ Seq("graft.Bench", "--child", out.toString)
      val pb = new ProcessBuilder(cmd.asJava).inheritIO()
      // Classpath via env (not -cp): ~150 spark jars keep the argv short.
      pb.environment().put("CLASSPATH", cp)
      pb.environment().put("SPARK_GRAFT_ONLY", grp.mkString(","))
      System.err.println(s"[bench] group $gi: ${grp.size} queries (${grp.head}..${grp.last})")
      val code = pb.start().waitFor()
      val seen = scala.collection.mutable.Set[String]()
      var groupSentinel: Option[Double] = None
      var groupPre: Option[Double] = None
      if (Files.exists(out)) {
        Files.readAllLines(out).asScala.foreach { line =>
          line.split("\t") match {
            case Array("T", n, sec) => results(n) = sec.toDouble; seen += n
            case Array("E", n, cls) => errors(n) = cls; seen += n
            case Array("P", _, sec) => groupPre = Some(sec.toDouble)
            case Array("S", _, sec) =>
              sentinels += sec.toDouble
              groupSentinel = Some(sec.toDouble)
            case _ =>
          }
        }
        Files.deleteIfExists(out)
      }
      // A crashed child (OOM, launcher failure) must not silently drop
      // its queries from the totals.
      grp.filterNot(seen).foreach(n => errors(n) = s"ChildJvmExit$code")
      groupInfo += ((grp, groupSentinel, groupPre))
    }
    emit(names, results.toMap, errors, sentinels.toSeq, groupInfo.toSeq)
  }

  // ----------------------------------------------------------------- child

  private def runOne(spark: org.apache.spark.sql.SparkSession,
                     fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    spark.catalog.clearCache()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  /** One fresh-JVM group: warmup pass, then two measured passes with
    * best-of-2 per query (passes are full sweeps, not back-to-back
    * repeats, so a transient load spike decorrelates from a query). */
  private def childMain(outPath: String): Unit = {
    val spark = GraftSession.local(cpus)
    val names = selectedNames
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      try runOne(spark, SparkEntry.queries(n))
      catch { case e: Throwable => errors(n) = e.getClass.getSimpleName }
    }
    // PRE-sentinel (round 15): the after-group sentinel alone cannot
    // see a load window that opens during the measured passes and
    // closes before it runs — exactly how r14's c28 reported 2.7×
    // while its group sentinel read normal. Bracketing the window
    // (one sentinel after warmup, one after the passes) makes such a
    // spike visible in the artifact: pre/post disagreement flags the
    // group's numbers as load-contaminated.
    val sentinelPre =
      try Some(measureSentinel(spark)) catch { case _: Throwable => None }
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    (1 to 2).foreach { _ =>
      names.filterNot(errors.contains).foreach { n =>
        val t0 = System.nanoTime()
        try {
          runOne(spark, SparkEntry.queries(n))
          val sec = (System.nanoTime() - t0) / 1e9
          best(n) = math.min(best.getOrElse(n, Double.MaxValue), sec)
        } catch { case e: Throwable => errors(n) = e.getClass.getSimpleName }
      }
    }
    // Load calibration AFTER the measured passes: the sentinel samples
    // machine conditions during this child's measurement window.
    val sentinelLine =
      try Some(f"S\t$Sentinel\t${measureSentinel(spark)}%.3f")
      catch { case _: Throwable => None }
    val preLine = sentinelPre.map(v => f"P\t$Sentinel\t$v%.3f")
    val lines = names.flatMap { n =>
      if (errors.contains(n)) Some(s"E\t$n\t${errors(n)}")
      else best.get(n).map(sec => f"T\t$n\t$sec%.3f")
    } ++ preLine ++ sentinelLine
    Files.writeString(Paths.get(outPath), lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  // ------------------------------------------------------------------ emit

  private def emit(names: Seq[String], results: Map[String, Double],
                   errors: scala.collection.mutable.LinkedHashMap[String, String],
                   sentinels: Seq[Double],
                   groupInfo: Seq[(Seq[String], Option[Double],
                     Option[Double])]): Unit = {
    val ok = names.filter(results.contains)
    val qs = ok.map(k => "\"" + k + "\":" + f"${results(k)}%.3f").mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val total = ok.map(results).sum
    // Median of the per-child sentinel runs — robust to one loaded
    // window; value_per_sentinel is the load-normalized total to
    // compare across rounds/machines.
    val sentinelJson = if (sentinels.isEmpty) "" else {
      val sorted = sentinels.sorted
      val med =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
      val runs = sorted.map(s => f"$s%.3f").mkString("[", ",", "]")
      f""","sentinel":"$Sentinel","sentinel_runs":$runs,""" +
        f""""sentinel_sec":$med%.3f,""" +
        f""""value_per_sentinel":${total / med}%.2f"""
    }
    // Per-child-group attribution: which queries shared a JVM, and that
    // child's own sentinel — an inflated in-suite time is attributable
    // to its group's load window without a manual isolated re-run.
    val groupsJson = if (groupInfo.isEmpty) "" else {
      val gs = groupInfo.zipWithIndex.map { case ((qs0, s, pre), i) =>
        val qlist = qs0.map("\"" + _ + "\"").mkString("[", ",", "]")
        val sent = s.map(v => f"$v%.3f").getOrElse("null")
        val preS = pre.map(v => f"$v%.3f").getOrElse("null")
        s""""g$i":{"sentinel_pre":$preS,"sentinel_sec":$sent,"queries":$qlist}"""
      }.mkString("{", ",", "}")
      s""","groups":$gs"""
    }
    // CORPUS-SHAPE record (round 15): the r13→r14 pin drift could not
    // be attributed because the regenerated corpus and the re-pin
    // landed together and the artifact recorded nothing about the
    // data's shape — row counts stayed identical while per-doc text
    // cost apparently grew. On-disk bytes per table (compression held
    // constant) are a cheap proxy the artifact now carries, so the
    // next corpus-vs-code question is answered by diffing two JSONs.
    val corpusJson = {
      def bytes(f: File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty[File])
          .map(bytes).sum
      val tables = Option(new File(sfDir).listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      if (tables.isEmpty) "" else tables
        .map(t => s""""${t.getName.stripSuffix(".parquet")}":${bytes(t)}""")
        .mkString(""","corpus_bytes":{""", ",", "}")
    }
    val out =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"errors":$errJson$sentinelJson$groupsJson$corpusJson$provenanceJson,"sf":"$sfDir"}"""
    // Round-12 (verdict #7), corrected round-13 (verdict #4): the full
    // line runs to tens of KB at 270+ queries, and the driver captures a
    // bounded TAIL of stdout — so the compact self-contained summary
    // (headline numbers, no per-query map) must be printed BOTH before
    // (for head captures) and AFTER the full line (so a bounded tail
    // always ENDS with parseable JSON instead of landing mid-full-line);
    // the on-disk copy below stays the full artifact.
    val compact =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
        s""""n_queries":${ok.size},"n_errors":${errors.size}""" +
        s"""$sentinelJson,"sf":"$sfDir"}"""
    println(compact)
    println(out)
    println(compact)
    // sbt wraps stdout in "[info] " prefixes (r1 driver got parsed:null),
    // so always leave a machine-readable copy on disk too.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    Files.writeString(Paths.get(outPath), out + "\n")
  }
}
