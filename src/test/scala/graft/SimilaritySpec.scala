package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Properties of the embedding operators that the string-projected oracle
  * rows can't pin: the true `array<long>` form of the int8 quantizer
  * (v05 grades a CSV projection because the driver's pandas compare cannot
  * hash array columns) and its dequantization error bound.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(4, 4).appName("graft-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("postings index artifact equals a direct recomputation (per-posting " +
    "tf/df/dl and the corpus stats row)") {
    // v25b's construction forces the build-if-missing; the artifact is
    // then compared field-for-field against a from-scratch derivation —
    // the probe must see exactly what a full corpus pass would.
    graft.llm.Similarity
      .queries("v25b_hybrid_rrf_indexed")(spark, sf).collect()
    val idx = graft.llm.IndexStore.path(graft.llm.IndexStore.Postings,
      new java.io.File(s"$sf/documents.parquet"))
    // Round-12: postings carry an int32 token id; decoding through the
    // vocab table must reproduce the string-keyed rows exactly, and the
    // dictionary itself must be dense, unique, and df-consistent.
    val vocabDf = spark.read
      .parquet(s"$idx/vocab")
    assert(vocabDf.schema("tid").dataType.typeName == "integer",
      "vocab tid is not int32")
    val vrows = vocabDf.collect()
    val tids = vrows.map(_.getAs[Int]("tid")).sorted
    assert(tids.toSeq == (1 to vrows.length).toSeq,
      s"vocab ids not dense 1..${vrows.length}")
    assert(vrows.map(_.getAs[String]("tok")).distinct.length ==
      vrows.length, "duplicate tokens in vocab")
    val post = spark.read
      .parquet(s"$idx/postings")
      .join(vocabDf.select(col("tid"), col("tok"),
        col("df").as("vdf")), "tid")
      .withColumn("dfOk", col("df") === col("vdf"))
      .select(col("tok"), col("c_id"), col("tf"), col("df"), col("dl"),
        col("dfOk"))
      .collect()
    assert(post.forall(_.getAs[Boolean]("dfOk")),
      "postings df diverges from vocab df")
    val postDecoded = post.map(r => Seq(r.getAs[String]("tok"),
        r.getAs[Long]("c_id"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Long]("dl")).mkString("[", ",", "]"))
      .sorted.toSeq
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val direct = tf
      .join(tf.groupBy(col("tok")).agg(count(lit(1)).as("df")), "tok")
      .select(col("tok"), col("doc_id"), col("tf"), col("df"), col("dl"))
      .collect().map(r => Seq(r.getAs[String]("tok"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Long]("dl")).mkString("[", ",", "]"))
      .sorted.toSeq
    assert(postDecoded.nonEmpty && postDecoded == direct,
      s"postings artifact diverges from direct recomputation " +
        s"(${postDecoded.size} vs ${direct.size} rows)")
    val stats = spark.read
      .parquet(s"$idx/stats")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dstats = docs
      .agg(count(lit(1)).as("n"),
        sum(size(col("toks")).cast("long")).as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stats == dstats, s"stats $stats != direct $dstats")
  }

  test("quantizeInt8 emits array<long> codes in [-127, 127], full width") {
    val q = graft.llm.Similarity.quantizeInt8(spark, sf)
    assert(q.schema("q8").dataType.typeName == "array")
    val bad = q.filter(
      exists(col("q8"), x => x < -127L || x > 127L) ||
        size(col("q8")) =!= 64).count()
    assert(bad == 0, s"$bad vectors with out-of-range codes or wrong width")
    // Each non-zero vector must hit full scale: some |code| == 127.
    val noFull = q.filter(col("max_abs") > 0.0)
      .filter(!exists(col("q8"), x => abs(x) === 127L)).count()
    assert(noFull == 0, s"$noFull non-zero vectors never reach |code|=127")
  }

  test("dequantized values reconstruct within half-step error") {
    // |x - q/scale| <= 0.5/scale = max_abs/254 per component.
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("ed"))
    val q = graft.llm.Similarity.quantizeInt8(spark, sf)
    val joined = q.join(e, "vec_id").filter(col("max_abs") > 0.0)
      .withColumn("err", aggregate(
        zip_with(col("ed"), col("q8"), (x, c) =>
          abs(x - c.cast("double") * col("max_abs") / 127.0)),
        lit(0.0), (acc, v) => greatest(acc, v)))
    val viol = joined
      .filter(col("err") > col("max_abs") / 254.0 * 1.0000001).count()
    assert(viol == 0, s"$viol vectors exceed the half-step error bound")
  }

  private def embDf(rows: Seq[(Long, Array[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("banded miner drops over-cap buckets: hot bucket yields zero pairs") {
    // 80 IDENTICAL vectors: every band bucket holds all 80 (> tau = 64),
    // so the cap must drop every bucket and the miner must emit NO pairs
    // even though all true similarities are 1.0. This is the guard that
    // keeps a corpus-common signature from going quadratic at 100 TB.
    val hot = (0L until 80L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(d + 1.0).toFloat)))
    val pairs = graft.llm.Similarity.neardupPairsOn(embDf(hot), 64L)
    assert(pairs.count() == 0,
      "over-cap bucket leaked candidate pairs past the tau guard")
  }

  test("banded miner keeps under-cap clusters: 10-dup cluster fully mined") {
    // A 10-member duplicate cluster among 300 scattered noise vectors:
    // its band buckets stay far below tau, so all C(10,2)=45 pairs must
    // surface with sim ~ 1.0.
    val cluster = (0L until 10L).map(i =>
      (i, Array.tabulate(64)(d => math.cos(d + 2.0).toFloat)))
    val noise = (0 until 300).map(i =>
      (1000L + i, Array.tabulate(64)(d =>
        math.sin((i + 2.0) * (d + 3.0)).toFloat)))
    val pairs = graft.llm.Similarity.neardupPairsOn(
      embDf(cluster ++ noise), 64L)
    val clusterPairs = pairs
      .filter(col("va") < 10L && col("vb") < 10L && col("sim") > 0.99)
      .count()
    assert(clusterPairs == 45L,
      s"expected all 45 cluster pairs, got $clusterPairs")
  }

  test("ANN delta compaction (v19b): probe rows equal v19 minus " +
    "provenance, compacted cells content-equal to the segment union, " +
    "and re-compaction with a grown segment set never aliases") {
    def rows(name: String, drop: Seq[String] = Nil) =
      graft.llm.Similarity.queries(name)(spark, sf)
        .drop(drop: _*).collect().map(_.toString).toSeq
    // Compaction erases provenance and must change nothing else.
    val v19 = rows("v19_delta_ann", drop = Seq("seg"))
    val cmp = rows("v19b_ann_compaction")
    assert(v19.nonEmpty && cmp == v19,
      s"compacted probe diverged from v19 (${cmp.size} vs ${v19.size})")
    // Part-level pin: compacted cells == base ∪ delta rows, codebook
    // carried verbatim.
    val idx = graft.llm.Similarity.ensureAnnDeltaIndexWhere(spark, sf,
      "v19", col("vec_id") % 7 =!= 0, col("vec_id") % 7 === 0)
    val cmpDir = graft.llm.Similarity.compactAnnSegments(spark, sf,
      "v19", s"$idx/cents", Seq(s"$idx/cells_base", s"$idx/cells_delta"))
    def part(p: String) = spark.read.parquet(p)
      .select(col("c_id"), col("c_cell"))
      .collect().map(_.toString).sorted.toSeq
    val union = (part(s"$idx/cells_base") ++ part(s"$idx/cells_delta"))
      .sorted
    assert(part(s"$cmpDir/cells") == union,
      "compacted cells differ from the segment union")
    assert(spark.read.parquet(s"$cmpDir/cents").collect().map(_.toString)
      .sorted.toSeq ==
      spark.read.parquet(s"$idx/cents").collect().map(_.toString)
        .sorted.toSeq, "compaction must carry the frozen codebook verbatim")
    // Re-compaction: folding the compacted artifact with one of its own
    // inputs (maximal overlap) must build under a NEW key and dedup back
    // to the same cells — the d43 round-15 idempotence rule.
    val recmp = graft.llm.Similarity.compactAnnSegments(spark, sf,
      "v19", s"$idx/cents", Seq(s"$cmpDir/cells", s"$idx/cells_delta"))
    assert(recmp != cmpDir,
      "re-compaction with a different segment set aliased the cache")
    assert(part(s"$recmp/cells") == union,
      "re-compacted cells differ from the segment union")
  }

  test("shared IVF leg: v09's trained leg, v17's 16-cell leg and v26's " +
    "4-probe point agree row for row") {
    // All three train the same K=16, T=2 codebook and probe 4 cells for
    // the same held-out queries 100..119, so their (n_cand, hits,
    // recall) columns must be equal per query.
    def leg(name: String, sfx: String) =
      graft.llm.Similarity.queries(name)(spark, sf)
        .select(col("q_id"), col(s"n_cand_$sfx"), col(s"hits_$sfx"),
          col(s"recall_$sfx"))
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val v09 = leg("v09_ivf_trained", "tr")
    assert(v09.size == 20, s"expected 20 held-out queries, got ${v09.size}")
    assert(leg("v17_ivf_sqrtn", "16") == v09, "v17's 16-cell leg != v09")
    assert(leg("v26_nprobe_sweep", "p4") == v09, "v26's p4 point != v09")
  }

  test("v05 graded projection matches the array form element-wise") {
    val graded = graft.llm.Similarity.queries("v05_quantize_int8")(spark, sf)
    val arr = graft.llm.Similarity.quantizeInt8(spark, sf)
      .select(col("vec_id"),
        array_join(transform(col("q8"), x => x.cast("string")), ",")
          .as("expect_csv"))
    val diff = graded.join(arr, "vec_id")
      .filter(col("q8_csv") =!= col("expect_csv")).count()
    assert(diff == 0)
  }

  test("PQ codes are dense bytes: every vector gets 8 codes in [0, 8)") {
    val codes = graft.llm.Similarity.queries("v10_pq_codes")(spark, sf)
    val codeCols = (0 until 8).map(m => col(s"code$m"))
    val bad = codes.filter(codeCols.map(c =>
      c.isNull || c < 0L || c >= 8L).reduce(_ || _)).count()
    assert(bad == 0, s"$bad vectors with missing/out-of-range PQ codes")
    val n = codes.count()
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    assert(n == nVecs, s"encoded $n of $nVecs vectors")
  }

  test("PQ exact re-rank dominates raw ADC@5 per query (shortlist " +
    "superset property)") {
    // rr5 re-ranks the ADC shortlist by TRUE cosine, and truth items are
    // the global cosine top-5, so every truth hit in adc-top5 (a subset
    // of the shortlist) must survive re-ranking: hits_rr >= hits_adc.
    val r = graft.llm.Similarity.queries("v11_pq_adc")(spark, sf)
    val bad = r.filter(col("hits_rr") < col("hits_adc")).count()
    assert(bad == 0, s"$bad queries where re-rank lost raw-ADC hits")
  }

  test("IVF-PQ (v20): cell-scoped scan prunes the corpus and exact " +
    "re-rank dominates raw ADC@5") {
    val r = graft.llm.Similarity.queries("v20_ivfpq_adc")(spark, sf)
      .cache()
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    // Probing 4 of 16 cells must scan a strict subset of the corpus —
    // the whole point of the coarse quantizer.
    val unpruned = r.filter(col("n_cand") >= nVecs - 1).count()
    assert(unpruned == 0, s"$unpruned queries scanned the whole corpus")
    // Same shortlist-superset argument as v11: truth ∩ adc-top5 ⊆
    // truth ∩ rr5, so re-ranking never loses a truth hit.
    val bad = r.filter(col("hits_rr") < col("hits_adc")).count()
    assert(bad == 0, s"$bad queries where re-rank lost raw-ADC hits")
    assert(r.count() == 20, "one graded row per held-out query")
  }

  test("v21 Hamming shortlist + re-rank equals an in-memory brute force " +
    "over the codegen signatures") {
    // Recomputes the whole pipeline in memory from the SAME hyperplane
    // signatures and float embeddings: per query, Hamming-rank all
    // candidates (xor+popcount, (ham, c_id) tie-break), keep 32, exact
    // cosine re-rank (double accumulation in index order — the
    // CosineSimilarity arithmetic), keep 3. The distributed result must
    // match tuple-for-tuple, pinning the shortlist logic independently
    // of the DuckDB twin.
    val e = Tables.load(spark, sf, "embeddings")
    val sigs = e.select(col("vec_id"),
      expr("hyperplane_sig(embedding, 48)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / math.sqrt(na * nb)
    }
    val expected = sigs.keys.filter(_ < 20).toSeq.sorted.flatMap { q =>
      val shortlist = sigs.keys.filter(_ != q).toSeq
        .map(c => (java.lang.Long.bitCount(sigs(q) ^ sigs(c)), c))
        .sorted.take(32)
      shortlist.map { case (h, c) => (c, h, cos(emb(q), emb(c))) }
        .sortBy { case (c, _, s) => (-s, c) }.take(3)
        .zipWithIndex
        .map { case ((c, h, s), i) => (q, c, (i + 1).toLong, h.toLong, s) }
    }
    val actual = graft.llm.Similarity.queries("v21_hamming_rerank")(
        spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(actual == expected)
  }
}
