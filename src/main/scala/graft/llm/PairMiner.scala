package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filter-and-verify core shared by every candidate-pair miner (the
  * REPOSE shape: pluggable pruning, one verification path). A miner
  * owns its blocking keys and pruning rules (band/shingle caps, the
  * PPJoin length and positional filters, the containment prefix) and
  * hands the resulting collision join to [[candidates]]; the bare-id
  * pair set then goes through [[verify]], which re-attaches both sides'
  * distinct-hash sets and scores them. Pair frames use the column
  * contract `da`/`db` (pair ids, da on the left), `ta`/`tb` (the two
  * sides' distinct int64 hash sets), `inter` and `jac`.
  */
private[graft] object PairMiner {

  /** Hash-exchange `df` on `keys` with an explicitly pinned partition
    * count (the session's defaultParallelism). The candidate-pair
    * distinct/fold that follows is byte-tiny ((da, db) int64 pairs) but
    * the verify stage downstream of it is CPU-dense per byte
    * (inter_count over ~KB token-set arrays per pair), and AQE's
    * byte-based coalescing (parallelismFirst respects only the 1 MB
    * minPartitionSize) collapses it to 1-4 tasks — measured 41% of d22
    * and 7-10% of d03/d19 serialized on one core. A user repartition
    * with explicit numPartitions is exempt from AQE coalescing, and
    * keying it on the distinct/groupBy keys means the aggregate reuses
    * this exchange — same exchange COUNT as the plain distinct, pinned
    * width. Scale note: N tracks the session's core count, so a cluster
    * run pins the same order of parallelism its shuffle.partitions
    * would give; the verify join-attach exchanges after it are sized by
    * AQE from real bytes as before. */
  private[llm] def spreadByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      keys.map(col): _*)

  /** Distinct (da, db) pairs of a collision join, on a pinned-width
    * exchange. The pair shuffle carries bare ids only; the sets
    * re-attach in [[verify]]. */
  def candidates(joined: DataFrame): DataFrame =
    spreadByKeys(joined.select(col("da"), col("db")), Seq("da", "db"))
      .dropDuplicates()

  /** Re-attach `left` (da, ta, …) and `right` (db, tb, …) to the pairs
    * by equi-join and add `inter` and the Jaccard column `jac`. */
  def verify(cand: DataFrame, left: DataFrame, right: DataFrame,
             jac: String = "jac"): DataFrame =
    score(cand.join(left, "da").join(right, "db"), jac)

  /** Add `inter` (codegen'd `inter_count`: size(array_intersect) without
    * materializing the intersection) and `jac` over a frame's `ta`/`tb`
    * sets — the per-pair cost of every verify stage, and the probe
    * step of the streaming twins. */
  def score(pairs: DataFrame, jac: String = "jac"): DataFrame =
    pairs
      .withColumn("inter", call_function("inter_count", col("ta"), col("tb")))
      .withColumn(jac, jaccard(size(col("ta")), size(col("tb")), col("inter")))

  /** inter / (|a| + |b| − inter) from the two set sizes and the
    * intersection count; the union is summed in int64. */
  def jaccard(na: Column, nb: Column, inter: Column): Column =
    inter.cast("double") / ((na + nb).cast("long") - inter)
}
