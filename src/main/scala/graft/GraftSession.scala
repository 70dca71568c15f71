package graft

import org.apache.spark.sql.SparkSession

/** Session factory applying the Ballista-equivalent config profile.
  *
  * The reference (apache/datafusion-ballista) expresses nearly all of its
  * execution behavior as configuration over DataFusion; Spark has built-in
  * equivalents for every one of them (SURVEY.md §4). This object is the
  * "config profile" port:
  *
  *  - `ballista.planner.adaptive.enabled` (reference `core/src/config.rs:86`)
  *    -> `spark.sql.adaptive.enabled` + coalesce/skew sub-flags
  *  - `ballista.broadcast_join.threshold.bytes` / `.rows`
  *    (`core/src/config.rs:103-110`) -> `spark.sql.autoBroadcastJoinThreshold`
  *  - SortMergeJoin-by-default (`tpch_plan_stability/README.md:33`)
  *    -> `spark.sql.join.preferSortMergeJoin=true` (Spark default, pinned)
  *  - `target_partitions=16` CI convention (`.github/workflows/tpch.yml:112`)
  *    -> `spark.sql.shuffle.partitions` (we size to the local core count)
  *  - shuffle compression (`core/src/config.rs:167-172`) ->
  *    `spark.shuffle.compress` + lz4 (Spark default codec)
  *  - precompiled kernels (DataFusion runs a repeated plan without
  *    compiling anything) -> every generated class is compiled once per
  *    JVM: `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]
  *    and `spark.sql.codegen.useIdInClassName=false`
  *
  * Codegen reuse rests on two invariants:
  *  - The generated-class cache is JVM-wide and sized ONCE, from
  *    `SQLConf.get` at the first code generation in the JVM (static
  *    initializer of `CodeGenerator`). Every session of this repo goes
  *    through [[builder]], so whichever one generates code first sizes it
  *    to [[CodegenCacheEntries]]; a session built elsewhere would leave
  *    Spark's default of 100 for the whole JVM.
  *  - Under AQE a stage's `codegenStageId` depends on which concurrent
  *    stage materializes first, so with ids in class names the same
  *    pipeline renders as new source on every run. Without them the id
  *    survives only in the `// codegenStageId` comment and EXPLAIN, which
  *    the cache key (`CodeAndComment`) ignores.
  */
object GraftSession {

  /** Generated-class cache capacity. One pass over every declared query
    * at sf0.01 fills 3,270 entries (compilations counted by
    * `CodegenMetrics.METRIC_COMPILATION_TIME.getCount`; entries are keyed
    * by class loader and source, so the driver's and the executors' copy
    * of a pipeline are two). Must stay ≥2× the suite's count so no class
    * is evicted within one JVM. */
  private val CodegenCacheEntries = 8192

  /** Runtime-settable confs: applied at build time by [[builder]] and
    * again on an existing session by [[tune]]. */
  private val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString,
    "spark.sql.join.preferSortMergeJoin" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    // default; read as long nanos (same total order as DuckDB's ns ts).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Runtime-settable part of the profile (safe on an existing session). */
  def tune(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    // Bounded-batch engine parity: no streaming configs needed (SURVEY §1).
    graft.functions.Udafs.register(spark)
    spark
  }

  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    runtimeConfs.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .withExtensions(GraftExtensions.install)

  /** Local session sized like the harness (local[32], 32 shuffle parts). */
  def local(cores: Int = 32): SparkSession = {
    val s = builder(cores, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
