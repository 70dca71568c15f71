package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Extension-surface tests: the injected `cosine_sim` Catalyst expression
  * (the analogue of the reference's `BallistaFunctionRegistry`,
  * `core/src/registry.rs:38-48`) and the session config profile.
  */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(4, 4).appName("graft-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("cosine_sim computes correct similarity") {
    val row = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS s, " +
        "cosine_sim(array(CAST(2.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS t").head()
    assert(math.abs(row.getDouble(0)) < 1e-15)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-15)
  }

  test("cosine_sim zero-norm returns 0.0") {
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS s")
      .head()
    assert(r.getDouble(0) == 0.0)
  }

  test("two cosine_sim calls in one projection codegen without collision") {
    // Regression: fixed variable names in doGenCode caused Janino failures
    // when two calls were inlined into one codegen stage (ADVICE.md r1).
    val s = spark; import s.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 1.0f)))
      .toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS s1", "cosine_sim(b, a) AS s2",
        "cosine_sim(a, a) AS s3")
    val rows = df.collect()
    assert(rows.head.getDouble(0) == rows.head.getDouble(1))
    assert(math.abs(rows.head.getDouble(2) - 1.0) < 1e-15)
  }

  test("cosine_sim wrong arity raises analysis error") {
    // Every injected function, called with one argument too few and one
    // too many, names itself and its accepted argument counts.
    val arities = Seq("cosine_sim" -> "2", "hyperplane_sig" -> "2",
      "int_l2" -> "2", "ivf_argmin" -> "2", "tok_hashes" -> "1",
      "inter_count" -> "2", "simhash16" -> "1", "shingle_hashes" -> "2",
      "kll_quantile" -> "2 or 3", "kll_sketch" -> "1 or 2",
      "mg_topk" -> "2")
    for ((name, expected) <- arities) {
      val counts = expected.split(" or ").map(_.toInt)
      for (n <- Seq(counts.min - 1, counts.max + 1)) {
        val args = Seq.fill(n)("array(CAST(1.0 AS FLOAT))").mkString(", ")
        val e = intercept[AnalysisException] {
          spark.sql(s"SELECT $name($args)").head()
        }
        assert(e.getMessage.toLowerCase.contains(name), s"$name/$n")
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" &&
          e.getMessageParameters.get("expectedNum") == expected &&
          e.getMessageParameters.get("actualNum") == n.toString,
          s"$name/$n: ${e.getMessage}")
      }
    }
  }

  test("cosine_sim type mismatch raises analysis error") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1), array(2))").head()
    }
    assert(e.getMessage.contains("array<float>") ||
      e.getMessage.contains("ARRAY<FLOAT>"))
  }

  test("tok_hashes is bit-identical to the composed md5-prefix hash") {
    val s = spark
    import s.implicits._
    // The fused expression must reproduce transform(split(text, " "),
    // t -> conv(substring(md5(t),1,15),16,10) % P) EXACTLY — including
    // empty tokens from leading/consecutive/trailing spaces and
    // multi-byte UTF-8 — because the DuckDB oracle pins the composed
    // definition. Randomized unicode corpora + adversarial fixed cases.
    val rnd = new scala.util.Random(11)
    val alphabet = "abzZ09.,é漢🎉  " // includes spaces + multibyte
    val cases = Seq("", " ", "  ", "a", "a b", " a  b ", "é 漢字 🎉🎉",
      "tab\there") ++
      (0 until 40).map(_ => (0 until rnd.nextInt(30))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = cases.toDF("text")
    val got = df.selectExpr("tok_hashes(text) AS f",
      "transform(split(text, ' '), t -> " +
        "conv(substring(md5(cast(t AS binary)), 1, 15), 16, 10) % 2147483647L) AS g")
    got.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"tok_hashes mismatch on ${r}")
    }
  }

  test("shingle_hashes matches the composed slice+join+md5 hash; empty " +
    "for short docs (the oracle's range(len-k+1) semantics)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val alphabet = "abz09é漢  "
    val cases = (Seq("a b c", "a b c d", "x  y z", "é 漢 字 🎉") ++
      (0 until 30).map(_ => (0 until (3 + rnd.nextInt(25)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
      // the composed form is only well-defined for >= 3 tokens
      .filter(_.split(" ", -1).length >= 3)
    val got = cases.toDF("text").selectExpr(
      "shingle_hashes(text, 3) AS f",
      // the d04 composition: hash of each 3-token slice joined by ' '
      "transform(sequence(0, size(split(text, ' ')) - 3), i -> " +
        "CAST(conv(substring(md5(cast(array_join(slice(split(text, ' '), i + 1, 3), ' ') AS binary)), 1, 15), 16, 10) AS BIGINT)) AS g")
    got.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch on $r")
    }
    // short docs: composed sequence(0, negative) is ill-defined; the
    // fused form pins the oracle's semantics — no shingles.
    val short = Seq("", "a", "a b").toDF("text")
      .selectExpr("shingle_hashes(text, 3) AS f").collect()
    short.foreach(r => assert(r.getSeq[Long](0).isEmpty, r.toString))
  }

  test("inter_count equals size(array_intersect) on randomized long " +
    "arrays (dups, empties, disjoint, identical)") {
    val s = spark
    import s.implicits._
    // The round-16 verify-stage expression must reproduce
    // size(array_intersect(a, b)) EXACTLY — distinct counting under
    // duplicates on either side included — because every Jaccard
    // numerator in the dedup family rides it and the DuckDB oracles pin
    // the set semantics. Randomized cases draw from a small value pool
    // so collisions and duplicates are dense.
    val rnd = new scala.util.Random(17)
    def arr(): Seq[Long] =
      (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(25).toLong)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(1L, 1L, 2L), Seq(1L, 2L, 2L)),
      (Seq(5L, 5L, 5L), Seq(5L)),
      (Seq(-1L, 0L, Long.MaxValue), Seq(Long.MaxValue, -1L)),
      (Seq(1L, 2L), Seq(3L, 4L))) ++
      (0 until 60).map(_ => (arr(), arr()))
    val got = cases.toDF("a", "b").selectExpr(
      "inter_count(a, b) AS f",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS g")
    got.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"inter_count mismatch on $r")
    }
  }

  test("inter_count equals size(array_intersect) on nullable arrays " +
    "(null in one side, both sides, duplicated nulls)") {
    val s = spark
    import s.implicits._
    // ADVICE r16: the Seq[Long] cases above have containsNull=false, so
    // the chkA/chkB null branches (and the null-in-both-counts-once
    // rule) were never exercised. java.lang.Long columns get
    // containsNull=true, driving both codegen branches.
    def J(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    val N: java.lang.Long = null
    val cases: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(N), Seq(N)),                       // null in both → 1
      (Seq(N, N), Seq(N)),                    // duplicated nulls → 1
      (Seq(N), Seq(J(1))),                    // null one side → 0
      (Seq(J(1), N, J(2)), Seq(J(2), J(3))),  // mixed, null unmatched
      (Seq(J(1), N, N, J(2)), Seq(N, J(1))),  // mixed, null matched
      (Seq.empty[java.lang.Long], Seq(N)),    // empty vs null-only
      (Seq(J(5), J(5), N), Seq(N, N, J(5))))  // dups + dup nulls
    val got = cases.toDF("a", "b").selectExpr(
      "inter_count(a, b) AS f",
      "CAST(size(array_intersect(a, b)) AS BIGINT) AS g")
    got.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"inter_count null-path mismatch on $r")
    }
  }

  test("simhash16 is bit-identical to the 16-fold HOF majority vote") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val cases = Seq("", "a", "a b c", "x x x x") ++
      (0 until 30).map(_ => (0 until (1 + rnd.nextInt(40)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar.toString).mkString(" "))
    val hof = (0 until 16).map { j =>
      s"(CASE WHEN aggregate(tok_hashes(text), 0L, (acc, h) -> " +
        s"acc + (CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val got = cases.toDF("text").selectExpr(
      "simhash16(tok_hashes(text)) AS f", s"CAST($hof AS BIGINT) AS g")
    got.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"simhash16 mismatch on $r")
    }
  }

  test("SET / SHOW config surface (reference context_checks.rs:239-336)") {
    spark.sql("SET spark.sql.shuffle.partitions=7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    val shown = spark.sql("SET spark.sql.shuffle.partitions").collect()
    assert(shown.head.getString(1) == "7")
    spark.sql("SET spark.sql.shuffle.partitions=4")
  }

  test("df.cache() materializes (reference pins this UNsupported; Spark exceeds)") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation").cache()
    try {
      assert(df.count() == 25)
      val p = df.queryExecution.executedPlan.toString()
      assert(df.count() == 25)
      val cached = df.queryExecution.withCachedData.toString()
      assert(cached.contains("InMemoryRelation"), cached)
    } finally df.unpersist()
  }
}
