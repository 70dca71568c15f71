package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import graft.llm.IndexStore

/** INDEX BUILD-COST bench (round 16, verdict #2) — the committed
  * artifact for the one cost class every per-query bench deliberately
  * hides: Bench's warmup pass builds the materialized indexes so the
  * measured passes time the probe, as production would — which means a
  * build-path regression (exactly the class round 15 fixed: the N×K
  * assignment wall, the CodegenFallback trainer) is invisible to every
  * committed per-query artifact. This tool measures the builds
  * themselves, lifecycle-ordered per index family, and writes
  * `ann_build.json` (committed, like `bench_pinned.json`; reference
  * analogue: the shuffle micro-bench discipline —
  * `benchmarks/src/bin/shuffle_bench.rs`, harness committed, artifact
  * kept):
  *
  *  - ANN family (v-family lifecycle): purge the graft_ann_index /
  *    graft_ann_dindex artifact roots, then run v18 (base index:
  *    trainer + two-level corpus assignment + flat-agreement audit),
  *    v19 (delta index: base + frozen-codebook delta segments), v19b
  *    (segment compaction fold) COLD in that order — each row builds
  *    only ITS lifecycle stage — then a WARM pass probes the published
  *    artifacts; build_sec = cold − warm per row.
  *  - Text family (d-family lifecycle): same discipline over
  *    graft_ingest_index for d21 (ingest index build), d23 (delta
  *    append), d43 (index compaction).
  *
  * Every row carries the q10 sentinel bracket (same best-of-2
  * discipline as Bench) so cross-round comparison is load-normalized,
  * and the artifact records head_commit/src_dirty
  * ([[graft.Bench.provenanceJson]]) so PinFreshnessSpec enforces the
  * same freshness rule as on the query pin.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BuildBench [sfDir]"
  */
object BuildBench {

  private def purge(kinds: IndexStore.Kind*): Unit =
    kinds.foreach { k =>
      Option(IndexStore.root(k).listFiles()).getOrElse(Array.empty[File])
        .foreach(deleteRec)
    }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)

    def runQ(name: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def sentinel(): Double = {
      runQ("q10_returns") // warm JIT/codegen/footers
      (1 to 2).map(_ => runQ("q10_returns")).min
    }

    val sentPre = sentinel()

    // ANN family: cold lifecycle (each row builds only its stage).
    purge(IndexStore.Ann, IndexStore.AnnDelta)
    val annRows = Seq("v18_indexed_ann", "v19_delta_ann",
      "v19b_ann_compaction")
    val annCold = annRows.map(n => n -> runQ(n)).toMap
    val annWarm = annRows.map(n => n -> runQ(n)).toMap

    // Text family: same discipline over the ingest index root.
    purge(IndexStore.Ingest)
    val txtRows = Seq("d21_indexed_ingest", "d23_index_delta_append",
      "d43_index_compaction")
    val txtCold = txtRows.map(n => n -> runQ(n)).toMap
    val txtWarm = txtRows.map(n => n -> runQ(n)).toMap

    val sentPost = sentinel()
    val sent = math.min(sentPre, sentPost)

    val rows = (annRows.map(n => (n, annCold(n), annWarm(n))) ++
      txtRows.map(n => (n, txtCold(n), txtWarm(n))))
      .map { case (n, c, w) =>
        val b = math.max(0.0, c - w)
        f""""$n":{"cold_sec":$c%.3f,"warm_sec":$w%.3f,""" +
          f""""build_sec":$b%.3f,"build_per_sentinel":${b / sent}%.2f}"""
      }.mkString("{", ",", "}")
    val out =
      f"""{"metric":"index_build","unit":"sec","sf":"$dir",""" +
        f""""sentinel_pre":$sentPre%.3f,"sentinel_post":$sentPost%.3f,""" +
        f""""sentinel_sec":$sent%.3f,"builds":$rows${graft.Bench.provenanceJson}}"""
    println(out)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BUILD_OUT",
      "/root/repo/ann_build.json")
    Files.writeString(Paths.get(outPath), out + "\n")
    spark.stop()
  }
}
