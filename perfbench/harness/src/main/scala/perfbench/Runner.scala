package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Executes workload queries through the library's public entry point,
  * `SparkEntry.queries(name)(spark, sfDir)`. */
final class Runner(val spark: SparkSession, sfDir: String,
                   val artifactRoot: File) {

  private val registry = graft.SparkEntry.queries

  /** Builds the query's DataFrame: the driver-side planning call. */
  def build(query: String): DataFrame = registry(query)(spark, sfDir)

  /** Drops every persisted intermediate, as between any two queries. */
  def clearCache(): Unit = spark.catalog.clearCache()

  /** Deletes the library's artifact families (`graft_*`) under the
    * run's own `java.io.tmpdir`, so the next index-owning query builds. */
  def purgeArtifacts(): Unit = artifacts.foreach(Runner.deleteRec)

  def artifacts: Seq[File] =
    Option(artifactRoot.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.startsWith("graft_"))

  /** (bytes, files) held by the artifact families right now. */
  def artifactFootprint: (Long, Long) = {
    def files(f: File): Seq[File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(files)
    val all = artifacts.flatMap(files)
    (all.map(_.length).sum, all.size.toLong)
  }

  /** Runs one query into the noop sink; Right(nanos) or Left(error). */
  def timed(query: String): Either[String, Long] = {
    clearCache()
    val t0 = System.nanoTime()
    try {
      build(query).write.format("noop").mode("overwrite").save()
      Right(System.nanoTime() - t0)
    } catch { case NonFatal(e) => Left(Runner.describe(e)) }
  }

  /** Runs one query and writes its result as one parquet file under
    * `dir`, for the oracle comparison. */
  def dump(query: String, dir: File): Option[String] = {
    clearCache()
    try {
      build(query).coalesce(1).write.mode("overwrite").parquet(dir.getPath)
      None
    } catch { case NonFatal(e) => Some(Runner.describe(e)) }
  }
}

object Runner {
  def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator.nextOption()
        .getOrElse("").take(200)

  def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete()
  }
}
