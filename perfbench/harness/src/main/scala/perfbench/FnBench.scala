package perfbench

import org.apache.spark.sql.SparkSession

/** Times each injected SQL function on a fixed noop-sinked projection
  * or aggregate over cached sf0.1 inputs, so a kernel change shows in
  * `fn.<name>_ms` without the queries around it. */
object FnBench {

  /** (function, SQL over the views registered in [[run]]). */
  val Cases: Seq[(String, String)] = Seq(
    "cosine_sim" -> "SELECT cosine_sim(e.embedding, p.pe) FROM pb_emb e CROSS JOIN pb_probe p",
    "hyperplane_sig" -> "SELECT hyperplane_sig(embedding, 32) FROM pb_emb CROSS JOIN range(16)",
    "int_l2" -> "SELECT int_l2(e.qv, p.pq) FROM pb_emb e CROSS JOIN pb_probe p",
    "ivf_argmin" -> ("SELECT ivf_argmin(e.qv, c.carr) FROM pb_emb e CROSS JOIN " +
      "(SELECT sort_array(collect_list(struct(vec_id AS cid, qv AS cv))) AS carr " +
      "FROM pb_emb WHERE vec_id < 64) c"),
    "tok_hashes" -> "SELECT tok_hashes(text) FROM pb_docs CROSS JOIN range(4)",
    "inter_count" -> ("SELECT inter_count(a.ths, b.ths) FROM pb_docs a " +
      "JOIN pb_docs b ON b.doc_id = a.doc_id + 1 CROSS JOIN range(4)"),
    "simhash16" -> "SELECT simhash16(th) FROM pb_docs CROSS JOIN range(4)",
    "shingle_hashes" -> "SELECT shingle_hashes(text, 3) FROM pb_docs CROSS JOIN range(4)",
    "kll_quantile" -> "SELECT kll_quantile(l_quantity, 0.5) FROM pb_qty",
    "kll_sketch" -> "SELECT kll_sketch(l_quantity) FROM pb_qty",
    "mg_topk" -> "SELECT mg_topk(tok, 50) FROM pb_toks")

  private val Repeats = 3

  def run(spark: SparkSession, sfDir: String): Map[String, Double] = {
    def view(name: String, sql: String): Unit = {
      val df = spark.sql(sql).cache()
      df.count()
      df.createOrReplaceTempView(name)
    }
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("pb_emb_src")
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("pb_docs_src")
    spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("pb_li_src")
    view("pb_emb", "SELECT vec_id, embedding, " +
      "transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv FROM pb_emb_src")
    view("pb_probe", "SELECT embedding AS pe, qv AS pq FROM pb_emb WHERE vec_id < 16")
    view("pb_docs", "SELECT doc_id, text, tok_hashes(text) AS th, " +
      "array_sort(array_distinct(tok_hashes(text))) AS ths FROM pb_docs_src " +
      "WHERE text IS NOT NULL")
    view("pb_qty", "SELECT l_quantity FROM pb_li_src")
    view("pb_toks", "SELECT explode(split(text, ' ')) AS tok FROM pb_docs")
    val out = Cases.map { case (fn, sql) =>
      def once(): Long = {
        val t0 = System.nanoTime()
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      once() // codegen and JIT
      s"fn.${fn}_ms" -> Harness.median(Seq.fill(Repeats)(once().toDouble)) / 1e6
    }.toMap
    spark.catalog.clearCache()
    out
  }
}
