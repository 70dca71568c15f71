package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.llm.Dedup

/** Property test for the chunk-level dedup pipeline (d10): on arbitrary
  * corpora drawn from a tiny vocabulary (maximizing chunk collisions —
  * the interesting case), the distributed hash-canonical pipeline must
  * agree with an in-memory brute force on every per-doc chunk and
  * duplicate count. The graded d10 entry checks one fixed corpus; this
  * pins the operator over the input space, including cross-doc AND
  * within-doc (stride-overlap) duplicate chunks.
  */
class DedupPropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(4, 4).appName("graft-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** In-memory reference: same chunk grid, canonical = lexicographic min
    * (doc_id, chunk_start) per chunk TEXT (md5 is injective wlog). */
  private def brute(docs: Seq[(Long, String)], chunk: Int,
                    stride: Int): Map[Long, (Long, Long)] = {
    // split(text, " ") in Spark keeps trailing empty strings → limit -1.
    val chunks = docs.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      (0 to math.max(toks.length - 1, 0) by stride).map { st =>
        (id, st.toLong, toks.slice(st, st + chunk).mkString(" "))
      }
    }
    val canon = chunks.groupBy(_._3)
      .map { case (txt, cs) => txt -> cs.map(c => (c._1, c._2)).min }
    docs.map { case (id, _) =>
      val mine = chunks.filter(_._1 == id)
      val nDup = mine.count(c => canon(c._3) != ((c._1, c._2)))
      id -> (mine.size.toLong, nDup.toLong)
    }.toMap
  }

  test("distributed chunk dedup equals in-memory brute force") {
    val s = spark
    import s.implicits._
    val genCase = for {
      nDocs <- Gen.choose(3, 12)
      chunk <- Gen.choose(2, 6)
      stride <- Gen.choose(1, 5)
      docs <- Gen.sequence[Seq[(Long, String)], (Long, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 40)
            toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
          } yield (id.toLong, toks.mkString(" "))
        })
    } yield (docs, chunk, stride)

    val prop = Prop.forAll(genCase) { case (docs, chunk, stride) =>
      val got = Dedup.chunkDedup(docs.toDF("doc_id", "text"), chunk, stride)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == brute(docs, chunk, stride)
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  /** In-memory reference for d12: disjoint para-token blocks, keep a
    * block iff it is the corpus-wide first occurrence of its text. */
  private def bruteParas(docs: Seq[(Long, String)],
                         para: Int): Map[Long, (Long, Long, String)] = {
    val blocks = docs.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      (0 to math.max(toks.length - 1, 0) by para).map { st =>
        (id, st.toLong, toks.slice(st, st + para).mkString(" "))
      }
    }
    val canon = blocks.groupBy(_._3)
      .map { case (txt, bs) => txt -> bs.map(b => (b._1, b._2)).min }
    docs.map { case (id, _) =>
      val mine = blocks.filter(_._1 == id).sortBy(_._2)
      val kept = mine.filter(b => canon(b._3) == ((b._1, b._2)))
      id -> (mine.size.toLong, kept.size.toLong,
        kept.map(_._3).mkString(" "))
    }.toMap
  }

  test("distributed paragraph dedup (d12) equals in-memory brute force, " +
    "reassembled text included") {
    val s = spark
    import s.implicits._
    val genCase = for {
      nDocs <- Gen.choose(3, 12)
      para <- Gen.choose(2, 6)
      docs <- Gen.sequence[Seq[(Long, String)], (Long, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 40)
            toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
          } yield (id.toLong, toks.mkString(" "))
        })
    } yield (docs, para)

    val prop = Prop.forAll(genCase) { case (docs, para) =>
      val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), para)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getString(3))).toMap
      got == bruteParas(docs, para)
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("paragraph dedup keeps exactly one copy of cross-doc boilerplate " +
    "and drops within-doc repeats") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one 8-tok block
    val docs = Seq(
      (1L, boiler + " " + boiler),           // within-doc repeat
      (2L, boiler),                          // cross-doc repeat
      (3L, (1 to 8).map(i => s"u$i").mkString(" "))) // unique survives
    val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 1L, boiler))) // first copy kept, repeat gone
    assert(got(2L)._2 == 0L && got(2L)._3 == "") // all boilerplate
    assert(got(3L)._2 == 1L)
  }

  test("book-length (>=100k-token) docs: chunk offsets past 100000 " +
    "cannot alias into the next doc_id (r4 int64-packing regression)") {
    val s = spark
    import s.implicits._
    // doc 0 is 100_051 tokens of filler EXCEPT a 50-token window at
    // offset 100_000 that exactly duplicates doc 1's first chunk. Under
    // the round-4 packing (doc_id*100000+idx) doc 0's offset-100000 key
    // collided with doc 1's offset-0 key: the MIN tie made BOTH copies
    // "canonical", so the one true duplicate went uncounted. The struct
    // arg-min keeps (0, 100000) < (1, 0): doc 1's copy is the duplicate.
    val shared = (0 until 50).map(i => s"shared$i")
    val doc0 = ((0 until 100000).map(i => s"w${i % 7}_$i") ++ shared ++ Seq("tail"))
      .mkString(" ")
    val doc1 = (shared ++ (0 until 30).map(i => s"other$i")).mkString(" ")
    val got = Dedup.chunkDedup(
        Seq((0L, doc0), (1L, doc1)).toDF("doc_id", "text"),
        chunk = 50, stride = 50)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == brute(Seq((0L, doc0), (1L, doc1)), 50, 50))
    // the duplicate lands on doc 1, not doc 0
    assert(got(0L)._2 == 0L, s"doc 0 must own the canonical copy: $got")
    assert(got(1L)._2 == 1L, s"doc 1's shared chunk must be the dup: $got")
  }

  test("indexed ingest dedup (d21) returns exactly the inline d18 report") {
    // The materialized index is a VIEW of the corpus side, not a
    // semantic change: the index-probing query must agree row-for-row
    // with the inline batch-vs-corpus recompute on the same corpus.
    // (Both share a DuckDB oracle; this pins the equivalence inside
    // Spark, independent of the oracle.)
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      Dedup.queries(name)(spark, dir).collect().map(_.toString).toSeq
    val inline = rows("d18_incremental_dedup")
    val indexed = rows("d21_indexed_ingest")
    assert(inline.nonEmpty)
    assert(indexed == inline,
      s"index probe diverged from inline recompute " +
        s"(${indexed.size} vs ${inline.size} rows)")
  }

  test("delta-append index (d23) probes identically to the monolithic " +
    "index (d21), and compaction changes nothing") {
    // base ∪ delta = the full standing corpus, so segmenting the index
    // must be invisible to the probe; and folding the segments back
    // into one (compaction — read base+delta, write one segment,
    // probe) must also be invisible. Together these pin the whole
    // maintenance cycle: append daily, compact periodically, rebuild
    // never.
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      Dedup.queries(name)(spark, dir).collect().map(_.toString).toSeq
    val mono = rows("d21_indexed_ingest")
    val delta = rows("d23_index_delta_append")
    assert(mono.nonEmpty)
    assert(delta == mono,
      s"delta-segmented probe diverged from monolithic index " +
        s"(${delta.size} vs ${mono.size} rows)")
    // Compaction is a REAL operation since round 14 (d43): fold the
    // base+delta artifacts into one segment — artifact-to-artifact,
    // documents never read — and probe it. The probe must match d21
    // row-for-row, and the compacted artifact must be content-equal,
    // part by part, to what a from-scratch single-segment build ("full")
    // stores: bands WITH the re-folded union pop (round-13: pop is a
    // per-segment build-time count, so compaction must fold it back to
    // the whole-population value — additive maintenance at append,
    // additive fold at compaction), bucket-grain pops, tsets, and the
    // re-distincted hashes.
    val compacted = rows("d43_index_compaction")
    assert(compacted == mono,
      s"compacted-index probe diverged from monolithic index " +
        s"(${compacted.size} vs ${mono.size} rows)")
    val fp = new java.io.File(s"$dir/documents.parquet")
    // d43's exact segment set, re-derived here to address the compacted
    // artifact (round-15: the compaction cache key mixes in the segment
    // identities, so same-tag-different-segments can never alias).
    import org.apache.spark.sql.functions.{col => fcol}
    val baseSeg = graft.llm.Dedup.ensureIngestIndexWhere(spark, dir,
      "base", fcol("doc_id") % 7 =!= 0 && fcol("doc_id") % 7 =!= 3)
    val deltaSeg = graft.llm.Dedup.ensureIngestIndexWhere(spark, dir,
      "delta", fcol("doc_id") % 7 === 3)
    val cmpDir = graft.llm.Dedup.compactIndexSegments(spark, dir, "cmp",
      Seq(baseSeg, deltaSeg))
    def partAt(dirPath: String, p: String) = spark.read
      .parquet(s"$dirPath/$p")
      .collect().map(_.toString).sorted.toSeq
    def part(tag: String, p: String) =
      partAt(graft.llm.IndexStore.path(graft.llm.IndexStore.Ingest, fp, tag)
        .getPath, p)
    for (p <- Seq("bands", "pops", "tsets", "hashes")) {
      val (cmp, full) = (partAt(cmpDir, p), part("full", p))
      assert(cmp.nonEmpty && cmp == full,
        s"compacted $p differs from the monolithic index " +
          s"(${cmp.size} vs ${full.size} rows)")
    }
    // RE-COMPACTION (round-15 advice): the lifecycle the primitive
    // exists for is "compact, append, compact again". Folding the
    // already-compacted artifact with one of its own inputs (maximal
    // overlap — every delta row repeats) must (a) build a NEW artifact
    // under a new key, not silently return the stale one, and (b) be
    // content-equal, part by part, to the from-scratch single-segment
    // build — pinning both the segment-keyed cache and the
    // overlap-safe fold (dedup'd bands, pops derived from the deduped
    // union, one tset row per db).
    val recmp = graft.llm.Dedup.compactIndexSegments(spark, dir, "cmp",
      Seq(cmpDir, deltaSeg))
    assert(recmp != cmpDir,
      "re-compaction with a different segment set aliased the cached " +
        "artifact — the cache key must include segment identities")
    for (p <- Seq("bands", "pops", "tsets", "hashes")) {
      val (re, full) = (partAt(recmp, p), part("full", p))
      assert(re.nonEmpty && re == full,
        s"re-compacted $p differs from the monolithic index " +
          s"(${re.size} vs ${full.size} rows) — overlapping segments " +
          "must fold to the same artifact as a from-scratch build")
    }
  }

  test("cluster-label index artifact equals d06's from-scratch labels " +
    "(cluster-grain consumers probe exactly what the graded path computes)") {
    val dir = "/root/testdata/sf0.001"
    // d07's construction forces the build-if-missing.
    Dedup.queries("d07_keep_best")(spark, dir).collect()
    val labels = graft.llm.IndexStore.path(graft.llm.IndexStore.Cluster,
      new java.io.File(s"$dir/documents.parquet"))
    val idx = spark.read
      .parquet(s"$labels/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fresh = Dedup.queries("d06_dup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(idx.nonEmpty && idx == fresh,
      s"cluster index diverges from d06 (${idx.size} vs ${fresh.size} rows)")
  }

  test("pointer-jumping CC: same labels as plain propagation on a chain, " +
    "in O(log d) rounds instead of O(d)") {
    val s = spark
    import s.implicits._
    // A 24-node path graph is the adversarial diameter case: plain
    // min-label propagation moves label 0 one hop per round (~23 rounds);
    // path halving must reach the same fixpoint in ~log2(24) rounds.
    val n = 24
    val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val (plainLab, plainRounds) =
      graft.operators.ConnectedComponents.run(edges, pointerJump = false)
    val (jumpLab, jumpRounds) =
      graft.operators.ConnectedComponents.run(edges, pointerJump = true)
    val p = plainLab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val j = jumpLab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == j, "jump and plain CC disagree on labels")
    assert(p.size == n && p.values.forall(_ == 0L),
      s"chain must collapse to cluster 0: $p")
    assert(jumpRounds < plainRounds,
      s"pointer jumping took $jumpRounds rounds vs plain $plainRounds — " +
        "no speedup on the diameter-bound case")
    assert(plainRounds >= n - 2, s"plain propagation finished in " +
      s"$plainRounds rounds — the chain case is not exercising diameter")
  }

  test("plain CC stops within maxRounds hops, odd bounds included") {
    val s = spark
    import s.implicits._
    // Plain hops run in pairs; a path longer than the bound never
    // converges early, so the loop must end on the bound itself.
    val genCase = for {
      maxRounds <- Gen.oneOf(1, 3, 5)
      extra <- Gen.choose(2, 4)
    } yield (maxRounds, maxRounds + extra)
    val prop = Prop.forAll(genCase) { case (maxRounds, n) =>
      val fwd = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
      val (_, rounds) = graft.operators.ConnectedComponents.run(edges,
        pointerJump = false, maxRounds = maxRounds)
      if (rounds > maxRounds)
        println(s"CC took $rounds hops with maxRounds=$maxRounds, n=$n")
      rounds <= maxRounds
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("CC over node ids near 2^62: the per-round label sum passes " +
    "Long.MaxValue, labels and round counts match the small-id graph") {
    val s = spark
    import s.implicits._
    // Any two ids >= 2^62 already sum past 2^63 - 1, and Spark 4 runs
    // ANSI mode, where a LONG sum that overflows throws. Shifting every
    // id by 2^62 preserves their order, so the propagation must take the
    // same hops and end on the same (shifted) labels.
    val base = 1L << 62
    val genCase = for {
      n <- Gen.choose(2, 12)
      nPairs <- Gen.choose(1, 14)
      pairs <- Gen.listOfN(nPairs, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
        if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield pairs.distinct
    val prop = Prop.forAll(genCase) { pairs0 =>
      // shrinking can step outside the generator's range
      val pairs = pairs0.filter { case (a, b) => 0 <= a && a < b }
      def cc(off: Long): (Map[Long, Long], Int) = {
        val (lab, rounds) = graft.operators.ConnectedComponents.runPairs(
          pairs.map { case (a, b) => (a + off, b + off) }.toDF("da", "db"),
          "da", "db")
        (lab.collect().map(r => (r.getLong(0) - off) ->
          (r.getLong(1) - off)).toMap, rounds)
      }
      val parent = collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.toSeq.map(x => x -> find(x)).toMap
      val (small, smallRounds) = cc(0L)
      val (big, bigRounds) = cc(base)
      if (big != expected || bigRounds != smallRounds)
        println(s"ids near 2^62: $pairs -> $big in $bigRounds rounds, " +
          s"small ids -> $small in $smallRounds")
      small == expected && big == expected && bigRounds == smallRounds
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  /** JVM mirror of Dedup's md5-prefix token hash (same bits as Spark's
    * conv(substring(md5(t),1,15),16,10) % P and DuckDB's twin). */
  private def tokHashJvm(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483647L
  }

  /** In-memory CDC chunker: boundary after token i iff hash(tok_i) ≡ 0
    * (mod m); returns (ordinal, chunk text) with the empty tail dropped —
    * the brute twin of Dedup.cdcDedup's chunking stage. */
  private def bruteCdcChunks(text: String, m: Int): Seq[(Long, String)] = {
    val toks = text.split(" ", -1)
    val bpos = toks.indices.filter(i => tokHashJvm(toks(i)) % m == 0)
    val starts = 0 +: bpos.map(_ + 1)
    val ends = bpos :+ (toks.length - 1)
    starts.zip(ends).filter { case (st, en) => en >= st }
      .zipWithIndex
      .map { case ((st, en), ord) =>
        (ord.toLong, toks.slice(st, en + 1).mkString(" ")) }
  }

  private def bruteCdc(docs: Seq[(Long, String)],
                       m: Int): Map[Long, (Long, Long)] = {
    val chunks = docs.flatMap { case (id, t) =>
      bruteCdcChunks(t, m).map { case (ord, c) => (id, ord, c) } }
    val canon = chunks.groupBy(_._3)
      .map { case (txt, cs) => txt -> cs.map(c => (c._1, c._2)).min }
    docs.map { case (id, _) =>
      val mine = chunks.filter(_._1 == id)
      val nDup = mine.count(c => canon(c._3) != ((c._1, c._2)))
      id -> (mine.size.toLong, nDup.toLong)
    }.toMap
  }

  test("d17 CDC dedup equals in-memory brute force") {
    val s = spark
    import s.implicits._
    // Vocabulary mixes boundary tokens (hash % 4 == 0 for some) and
    // non-boundary ones; m=4 makes boundaries frequent enough that
    // arbitrary 40-token docs exercise multi-chunk paths.
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val genCase = for {
      nDocs <- Gen.choose(3, 10)
      docs <- Gen.sequence[Seq[(Long, String)], (Long, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 40)
            toks <- Gen.listOfN(n, Gen.oneOf(vocab))
          } yield (id.toLong, toks.mkString(" "))
        })
    } yield docs
    val prop = Prop.forAll(genCase) { docs =>
      val got = Dedup.cdcDedup(docs.toDF("doc_id", "text"), modulus = 4)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == bruteCdc(docs, 4)
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
    spark.catalog.clearCache() // cdcDedup persists its chunk table
  }

  test("d17 CDC re-synchronizes after an insertion (the fixed grid d10 " +
    "does not): suffix chunks are unchanged") {
    // Insert one token at position k. Content-defined boundaries depend
    // only on token content, so every chunk that starts after the first
    // boundary ≥ k must reappear verbatim in the edited doc — THE
    // property that makes CDC dedup robust to edits. A fixed-stride grid
    // shifts every later chunk window and loses them all.
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    (0 until 20).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      val toks = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val k = rnd.nextInt(n)
      val edited = (toks.take(k) :+ "INSERTED") ++ toks.drop(k)
      val m = 4
      // first boundary at/after k in the original
      val bAfter = (k until n)
        .find(i => tokHashJvm(toks(i)) % m == 0)
      bAfter.foreach { b =>
        // chunks of the original strictly after boundary b: all tokens
        // b+1.. — these must all appear among the edited doc's chunks.
        val origSuffix = bruteCdcChunks(toks.mkString(" "), m)
          .map(_._2)
          .filter(c => c.nonEmpty)
        val editSet = bruteCdcChunks(edited.mkString(" "), m)
          .map(_._2).toSet
        // suffix = chunks fully contained in tokens (b+1 .. n-1). A
        // chunk is a maximal run between boundaries; reconstruct starts:
        val bpos = toks.indices.filter(i => tokHashJvm(toks(i)) % m == 0)
        val starts = 0 +: bpos.map(_ + 1)
        val suffixChunks = starts.zip(bpos :+ (n - 1))
          .filter { case (st, en) => en >= st && st > b }
          .map { case (st, en) => toks.slice(st, en + 1).mkString(" ") }
        assert(suffixChunks.forall(editSet.contains),
          s"CDC lost a post-boundary chunk after insertion at $k " +
            s"(boundary $b): ${suffixChunks.filterNot(editSet.contains)}")
        assert(origSuffix.nonEmpty)
      }
    }
  }

  test("d19 prefix-filter join finds EXACTLY the brute-force J >= 0.7 " +
    "pairs (guaranteed recall, unlike banding)") {
    val s = spark
    import s.implicits._
    // Small vocab + short docs maximize both high-Jaccard pairs and
    // prefix collisions; sources split the corpus so the within-source
    // scope is exercised too.
    val genCase = for {
      nDocs <- Gen.choose(4, 14)
      docs <- Gen.sequence[Seq[(Long, String, String)], (Long, String, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 12)
            src <- Gen.oneOf("web", "code")
            toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
          } yield (id.toLong, src, toks.mkString(" "))
        })
    } yield docs
    val prop = Prop.forAll(genCase) { docs =>
      val got = Dedup.prefixFilterPairsOn(
          docs.toDF("doc_id", "source", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // brute force: every same-source pair, exact Jaccard on distinct
      // token-hash sets (the same md5-prefix hash via tokHashJvm)
      val sets = docs.map { case (id, src, text) =>
        (id, src, text.split(" ", -1).map(tokHashJvm).toSet) }
      val brute = (for {
        (ia, sa, ta) <- sets; (ib, sb, tb) <- sets
        if sa == sb && ia < ib
        inter = (ta & tb).size
        jac = inter.toDouble / (ta.size + tb.size - inter)
        if jac >= 0.7
      } yield (ia, ib) -> jac).toMap
      val ok = got == brute
      if (!ok) println(s"prefix-filter $got != brute $brute on $docs")
      spark.catalog.clearCache() // prefixFilterPairsOn persists its base
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  /** JVM mirror of shingle_hashes(text, 3): the RAW 60-bit md5-prefix
    * fold (round 17: shingle grain carries no % P — the reduction is
    * token-grain-only) of every 3-token shingle joined by one space,
    * distinct; empty below 3 tokens. */
  private def shingleSetJvm(text: String): Set[Long] = {
    val toks = text.split(" ", -1)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(w => shingleHashJvm(w.mkString(" "))).toSet
  }

  /** Raw 60-bit md5-prefix fold — shingle_hashes' window space. */
  private def shingleHashJvm(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("d39 containment pairs equal brute-force C >= 0.9 shingle " +
    "containment (prefix filter loses no recall, verification adds no " +
    "false positives)") {
    val s = spark
    import s.implicits._
    // Tiny vocab keeps the 3-gram space small (125 shingles) so prefix
    // collisions are common; the overlay makes some docs contiguous
    // slices of earlier docs — the pasted-copy case d39 exists for
    // (slice shingles are a subset of the parent's, containment 1.0).
    val genCase = for {
      nDocs <- Gen.choose(4, 12)
      bases <- Gen.listOfN(nDocs, for {
        n <- Gen.choose(1, 18)
        toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
      } yield toks)
      overlays <- Gen.sequence[Seq[Option[(Int, Int, Int)]],
          Option[(Int, Int, Int)]](
        (0 until nDocs).map { i =>
          if (i == 0) Gen.const(None)
          else Gen.frequency(
            (1, Gen.const(None)),
            (1, for {
              j <- Gen.choose(0, i - 1)
              st <- Gen.choose(0, 17)
              ln <- Gen.choose(3, 18)
            } yield Some((j, st, ln))))
        })
    } yield {
      val bs = bases.toIndexedSeq
      bs.indices.map { i =>
        overlays(i) match {
          case Some((j, st, ln)) =>
            val parent = bs(j)
            val s0 = math.min(st, math.max(parent.length - 1, 0))
            val sl = parent.slice(s0, math.min(parent.length, s0 + ln))
            (i.toLong, (if (sl.isEmpty) bs(i) else sl).mkString(" "))
          case None => (i.toLong, bs(i).mkString(" "))
        }
      }
    }
    val prop = Prop.forAll(genCase) { docs =>
      val got = Dedup.containmentPairsOn(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // brute force: every ordered pair under the (sz, doc_id) role
      // order, exact containment on distinct 3-gram shingle-hash sets.
      val sets = docs.map { case (id, t) => (id, shingleSetJvm(t)) }
      val brute = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if sa.nonEmpty && sb.nonEmpty
        if sa.size < sb.size || (sa.size == sb.size && ia < ib)
        inter = (sa & sb).size.toLong
        if inter * 10 >= sa.size.toLong * 9
      } yield (ia, ib) -> (sa.size.toLong, sb.size.toLong, inter)).toMap
      val ok = got == brute
      if (!ok) println(s"containment $got != brute $brute on $docs")
      spark.catalog.clearCache() // containmentPairsOn persists its base
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("d40 containment core at C >= 1/2 equals brute force on arbitrary " +
    "unit sets (the prefix filter's pigeonhole holds at any threshold)") {
    val s = spark
    import s.implicits._
    // Unit hashes drawn from a tiny space (0..11) so both prefix
    // collisions and half-contained sets are common; sets are what
    // d40 feeds the core (distinct, sorted), exercising the num/den
    // = 1/2 arithmetic d39's 9/10 test never touches.
    val genCase = for {
      nDocs <- Gen.choose(4, 12)
      sets <- Gen.listOfN(nDocs, for {
        n <- Gen.choose(0, 8)
        hs <- Gen.listOfN(n, Gen.choose(0L, 11L))
      } yield hs.distinct.sorted)
    } yield sets.zipWithIndex.map { case (hs, i) => (i.toLong, hs) }
    val prop = Prop.forAll(genCase) { docs =>
      val got = Dedup.containmentPairsCore(
          docs.toDF("doc_id", "shs"), 1, 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val sets = docs.map { case (id, hs) => (id, hs.toSet) }
      val brute = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if sa.nonEmpty && sb.nonEmpty
        if sa.size < sb.size || (sa.size == sb.size && ia < ib)
        inter = (sa & sb).size.toLong
        if inter * 2 >= sa.size.toLong
      } yield (ia, ib) -> (sa.size.toLong, sb.size.toLong, inter)).toMap
      val ok = got == brute
      if (!ok) println(s"block containment $got != brute $brute on $docs")
      spark.catalog.clearCache() // containmentPairsCore persists its base
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("d04 DF cap: a corpus-hot shingle is dropped from candidate " +
    "generation; rare-shingle near-dups still surface") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, split}
    // 10 docs consist of EXACTLY the same single 3-gram (true pairwise
    // jac = 1.0) — the degenerate hot bucket that makes f^2 candidate
    // rows in one shuffle partition. 2 more docs are near-dups through
    // RARE shingles (DF = 2).
    val hot = (0 until 10).map(i => (100L + i, "web", "aa bb cc"))
    val dup = Seq(
      (1L, "web", "xx yy zz ww vv uu tt ss"),
      (2L, "web", "xx yy zz ww vv uu tt rr"))
    val docs = (hot ++ dup).toDF("doc_id", "source", "text")
      .withColumn("toks", split(col("text"), " "))
    val capped = Dedup.ngramJaccardOn(docs, dfCap = 5L).collect()
    // Discovery through rare shingles survives the cap (exact jac 5/7).
    assert(capped.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"rare-shingle near-dup pair lost under the cap: ${capped.toSeq}")
    // The hot shingle (DF 10 > 5) is dropped BEFORE the pair join: none
    // of the 45 jac-1.0 hot pairs may appear — candidate work from that
    // bucket is zero, not f^2.
    assert(!capped.exists(r => r.getLong(0) >= 100L),
      s"hot-shingle bucket leaked pairs past the DF cap: ${capped.toSeq}")
    // Sanity: with the cap lifted, the same corpus yields all 45 pairs.
    val uncapped = Dedup.ngramJaccardOn(docs, dfCap = 1000L).collect()
    assert(uncapped.count(r => r.getLong(0) >= 100L) == 45,
      s"expected 45 hot pairs uncapped, got ${uncapped.toSeq}")
    spark.catalog.clearCache()
  }

  /** In-memory d26 reference: per-source (n_docs, n_dup_docs, n_spans,
    * dup_tokens, total_tokens) with K-token windows, global >= 2
    * occurrence rule, overlap-or-adjacent span merge. */
  private def bruteSpans(docs: Seq[(Long, String, String)], k: Int)
      : Map[String, (Long, Long, Long, Long, Long)] = {
    val tokd = docs.map { case (id, src, t) => (id, src, t.split(" ", -1)) }
    val grams = tokd.flatMap { case (id, _, toks) =>
      (1 to toks.length - k + 1).map(p =>
        (id, p.toLong, toks.slice(p - 1, p - 1 + k).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val perDoc = tokd.map { case (id, src, toks) =>
      val ps = grams.filter(g => g._1 == id && counts(g._3) >= 2)
        .map(_._2).sorted
      // merge [p, p+k-1] intervals; adjacency (gap 0) merges too
      val spans = ps.foldLeft(List.empty[(Long, Long)]) {
        case (acc, p) => acc match {
          case (s0, e0) :: rest if p <= e0 + 1 => (s0, math.max(e0, p + k - 1)) :: rest
          case _ => (p, p + k - 1) :: acc
        }
      }
      (id, src, toks.length.toLong, spans.size.toLong,
        spans.map { case (s0, e0) => e0 - s0 + 1 }.sum)
    }
    perDoc.groupBy(_._2).view.mapValues { ds =>
      (ds.size.toLong, ds.count(_._4 > 0).toLong, ds.map(_._4).sum,
        ds.map(_._5).sum, ds.map(_._3).sum)
    }.toMap
  }

  test("d26 duplicated-span removal equals in-memory brute force " +
    "(windows, global >=2 rule, overlap merge)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, split => fsplit}
    val genCase = for {
      k <- Gen.choose(2, 4)
      nDocs <- Gen.choose(3, 10)
      docs <- Gen.sequence[Seq[(Long, String, String)], (Long, String, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 30)
            src <- Gen.oneOf("web", "code")
            toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
          } yield (id.toLong, src, toks.mkString(" "))
        })
    } yield (k, docs)
    val prop = Prop.forAll(genCase) { case (k, docs) =>
      val df = docs.toDF("doc_id", "source", "text")
        .withColumn("toks", fsplit(col("text"), " "))
      val got = Dedup.dupSpanReport(df, k).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))).toMap
      val want = bruteSpans(docs, k)
      val ok = got == want
      if (!ok) println(s"d26 k=$k got $got != brute $want on $docs")
      spark.catalog.clearCache()
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("d26 finds a shifted copied run the fixed chunk grid misses") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, split => fsplit}
    // doc 0: tokens u0..u39 with a 10-token run r0..r9 at offset 5;
    // doc 1: tokens w0..w39 with the SAME run at offset 17 — no K-gram
    // aligns on d10's 40-token chunk grid, so chunk dedup sees nothing,
    // while span dedup must find exactly the 10-token run in each doc.
    val run = (0 until 10).map(i => s"r$i")
    val t0 = ((0 until 5).map(i => s"u$i") ++ run ++
      (15 until 40).map(i => s"u$i")).mkString(" ")
    val t1 = ((0 until 17).map(i => s"w$i") ++ run ++
      (27 until 40).map(i => s"w$i")).mkString(" ")
    val df = Seq((0L, "web", t0), (1L, "web", t1))
      .toDF("doc_id", "source", "text")
      .withColumn("toks", fsplit(col("text"), " "))
    val got = Dedup.dupSpanReport(df, 8).collect()
    assert(got.length == 1)
    val r = got.head
    // 2 docs, both with dup spans, one span each, 10 dup tokens each
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((2L, 2L, 2L, 20L, 80L)),
      s"unexpected span report: ${r.toSeq}")
    val chunks = Dedup.chunkDedup(
      Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), 40, 40).collect()
    assert(chunks.forall(_.getLong(2) == 0L),
      s"chunk grid unexpectedly saw the shifted run: ${chunks.toSeq}")
    spark.catalog.clearCache()
  }

  /** JVM twin of d25's split hash. */
  private def splitJvm(id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$id:split".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10 < 9) "train"
    else "val"
  }

  test("d25 split safety: cluster policy has zero leaks/straddles by " +
    "construction; naive counters match union-find brute force") {
    val s = spark
    import s.implicits._
    val genCase = for {
      nDocs <- Gen.choose(4, 20)
      nPairs <- Gen.choose(0, 12)
      pairs <- Gen.listOfN(nPairs, for {
        a <- Gen.choose(0, nDocs - 1); b <- Gen.choose(0, nDocs - 1)
        if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield (nDocs, pairs.distinct)
    val prop = Prop.forAll(genCase) { case (nDocs0, pairs0) =>
      // shrinking can step outside the generator's range — clamp
      val nDocs = math.max(nDocs0, 1)
      val pairs = pairs0.filter { case (a, b) => a != b && b < nDocs }
      val docs = (0 until nDocs).map(id => (id.toLong, (id + 1).toLong))
      val got = Dedup.splitSafetyReport(
          docs.toDF("doc_id", "n_toks"),
          pairs.toDF("da", "db").localCheckpoint())
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6))).toMap
      // union-find brute force
      val parent = collection.mutable.Map((0L until nDocs.toLong).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val cluster = (0L until nDocs.toLong).map(i => i -> find(i)).toMap
      def report(sp: Long => String) = {
        val splits = (0L until nDocs.toLong).map(i => i -> sp(i)).toMap
        val tr = splits.filter(_._2 == "train").keys
        val va = splits.filter(_._2 == "val").keys
        (tr.size.toLong, va.size.toLong,
          tr.map(_ + 1).sum, va.map(_ + 1).sum,
          pairs.count { case (a, b) => splits(a) != splits(b) }.toLong,
          cluster.groupBy(_._2).values
            .count(m => m.keys.map(splits).toSet.size > 1).toLong)
      }
      val want = Map(
        "naive" -> report(splitJvm),
        "cluster" -> report(i => splitJvm(cluster(i))))
      val zeroOk = got("cluster")._5 == 0L && got("cluster")._6 == 0L
      val ok = got == want && zeroOk
      if (!ok) println(s"d25 got $got != brute $want on n=$nDocs $pairs")
      spark.catalog.clearCache()
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("d27 Bloom pre-filter is SOUND: no exact duplicate ever fails " +
    "the bloom probe (zero false negatives, by construction)") {
    // The Bloom guarantee the pipeline relies on to SKIP the exact join
    // for bloom_pass=0 docs: every corpus hash set all three of its
    // bits, so a batch doc whose hash IS in the corpus must find all
    // three bits present. A violation means the probe and the build
    // disagree on the bit derivation.
    val r = Dedup.queries("d27_bloom_ingest")(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions.col
    val fn = r.filter(col("exact_dup") === 1L && col("bloom_pass") === 0L)
      .count()
    assert(fn == 0, s"$fn false negatives — the Bloom invariant is broken")
    // And the filter actually filters: some batch docs are pruned.
    assert(r.filter(col("bloom_pass") === 0L).count() > 0,
      "bloom filter never pruned anything at sf0.001 — m is mis-sized")
  }

  test("d28 PageRank authority: damping floor holds, peaks exist and " +
    "are never adjacent") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val r = Dedup.queries("d28_pagerank_authority")(spark, dir).cache()
    // Every node's rank carries at least the teleport mass.
    assert(r.filter(col("pr") < 150000L).count() == 0,
      "rank below the damping floor")
    assert(r.filter(col("is_peak") === 1L).count() > 0, "no peaks found")
    // Two adjacent nodes cannot both be peaks: the peak predicate is a
    // strict total-order comparison against the neighborhood max, so
    // for any edge (a, b) at most one side can dominate the other.
    val peaks = r.filter(col("is_peak") === 1L).select(col("doc_id"))
    val pairs = Dedup.queries("d03_minhash_lsh_pairs")(spark, dir)
      .select(col("da"), col("db"))
    val adjPeaks = pairs
      .join(peaks.select(col("doc_id").as("da")), "da")
      .join(peaks.select(col("doc_id").as("db")), "db")
      .count()
    assert(adjPeaks == 0, s"$adjPeaks adjacent peak pairs")
  }

  test("d29 triangle counts equal an in-memory brute force on the mined " +
    "graph; clustering coefficient stays in [0, 10000] basis points") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.queries("d03_minhash_lsh_pairs")(spark, dir)
      .select(col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val triOf = adj.keys.map { v =>
      val ns = adj(v).toSeq
      var t = 0L
      for (i <- ns.indices; j <- i + 1 until ns.size)
        if (adj(ns(i)).contains(ns(j))) t += 1
      v -> t
    }.toMap
    val rows = Dedup.queries("d29_triangle_cc")(spark, dir).collect()
    assert(rows.nonEmpty, "empty triangle report")
    assert(rows.length == adj.size, "node set differs from the pair graph")
    rows.foreach { row =>
      val (id, deg, tri, cc) = (row.getLong(0), row.getLong(1),
        row.getLong(2), row.getLong(3))
      assert(deg == adj(id).size.toLong, s"degree mismatch at $id")
      assert(tri == triOf(id), s"triangle count mismatch at $id")
      assert(cc >= 0L && cc <= 10000L, s"cc out of range at $id: $cc")
      if (deg >= 2)
        assert(cc == 2L * tri * 10000L / (deg * (deg - 1)),
          s"cc formula mismatch at $id")
      else assert(cc == 0L)
    }
  }

  test("d29 degree-ordered orientation: an adversarial star opens ZERO " +
    "wedges (id-order would open C(60,2) = 1770) and star+clique " +
    "triangle stats are exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // Center 0 carries the SMALLEST id, so id-ordered orientation
    // would give it out-degree 60 → C(60,2) wedges; (degree, id)
    // orientation points every star edge INTO the hub.
    val star = (1L to 60L).map(l => (0L, l))
    val clique = for (i <- 100L to 105L; j <- i + 1 to 105L)
      yield (i, j)
    val pairs = (star ++ clique).toDF("da", "db")
    val sym = pairs.unionByName(
      pairs.select(col("db").as("da"), col("da").as("db")))
    val deg = sym.groupBy("da").agg(count(lit(1)).as("degree"))
      .select(col("da").as("id"), col("degree"))
    val dout = Dedup.degreeOrientedEdges(pairs, deg).collect()
      .map(_.getLong(0)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    assert(dout.getOrElse(0L, 0L) == 0L,
      s"star center must absorb all edges, out-degree ${dout.get(0L)}")
    (1L to 60L).foreach(l => assert(dout(l) == 1L,
      s"leaf $l out-degree ${dout(l)}"))
    // Total wedge population = the clique's 20 (out-degrees 5..0 →
    // Σ C(k,2) = 10+6+3+1 = 20); the star contributes none.
    val wedges = dout.values.map(d => d * (d - 1) / 2).sum
    assert(wedges == 20L, s"wedge population must be 20, got $wedges")
    val rows = Dedup.triangleStats(pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(0L) == ((60L, 0L, 0L)))
    (1L to 60L).foreach(l => assert(rows(l) == ((1L, 0L, 0L))))
    (100L to 105L).foreach(v => assert(rows(v) == ((5L, 10L, 10000L)),
      s"clique vertex $v: ${rows(v)}"))
  }

  test("d30 importance selection: a target-distribution copy outranks " +
    "unique-token docs within its language; weights bounded by the " +
    "target-subset rule") {
    val s = spark
    import s.implicits._
    // doc 2 ('de') is a verbatim copy of the English target doc, so its
    // bigrams all carry target mass (tc=1, rc=2 → w=6666); docs 3/4 use
    // vocabulary the target never saw (tc=0, rc=1 → w=5000). The DSIR
    // ranking must therefore put doc 2 first within 'de'.
    val en = "the cat sat on the mat and the dog ran to the park"
    val docs = Seq(
      (1L, en, "en", "src0", en.length.toLong),
      (2L, en, "de", "src0", en.length.toLong),
      (3L, "zug bahnhof fenster himmel wolke berg tal fluss wald wiese",
        "de", "src0", 10L),
      (4L, "une phrase unique sans recouvrement lexical aucun jamais",
        "fr", "src0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("d30corpus").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.queries("d30_importance_select")(spark, dir).collect()
    val deTop = r.filter(_.getString(0) == "de").minBy(_.getLong(1))
    assert(deTop.getLong(2) == 2L,
      s"English-copy doc must rank first within de, got $deTop")
    // target ⊆ raw ⇒ tc ≤ rc ⇒ every bigram weight ≤ 10000 ⇒ the doc
    // score can never exceed 10000 × its bigram count.
    r.foreach(row =>
      assert(row.getLong(4) <= 10000L * row.getLong(3),
        s"weight bound violated: $row"))
  }

  /** Unit-cost Levenshtein, the in-memory reference for d31b. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = d(0); d(0) = i
      for (j <- 1 to b.length) {
        val cur = d(j)
        d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    d(b.length)
  }

  private def bruteNearest(ents: Seq[(Long, String, Boolean)],
                           tau: Int): Set[(Long, Long, Long)] =
    ents.filter(_._3).flatMap { case (qk, qn, _) =>
      val cands = ents.filter(_._1 != qk)
        .map { case (ck, cn, _) => (lev(qn, cn).toLong, ck) }
        .filter(_._1 <= tau)
      if (cands.isEmpty) None
      else { val (d, ck) = cands.min; Some((qk, ck, d)) }
    }.toSet

  test("d31b blocked nearest equals brute-force tau-argmin on arbitrary " +
    "entity corpora (PassJoin segment blocking loses no recall)") {
    val s = spark
    import s.implicits._
    // Tiny alphabet + short strings maximize near-collisions — the
    // regime where a recall bug (a true tau-pair whose segment keys
    // miss each other) would actually surface. Lengths from 1 char
    // exercise the zero-length-segment degenerate regime (strings
    // shorter than tau+1 block by length class alone).
    val genEnt = for {
      len <- Gen.choose(1, 10)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    val genCase = for {
      n <- Gen.choose(4, 24)
      names <- Gen.listOfN(n, genEnt)
    } yield names.zipWithIndex.map { case (nm, i) =>
      (i.toLong + 1L, nm, i % 3 == 0)
    }
    val prop = Prop.forAll(genCase) { ents =>
      spark.catalog.clearCache() // blockedNearest persists its string table
      val got = Dedup.blockedNearest(
          ents.toDF("ek", "en", "is_probe"), 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = bruteNearest(ents, 2)
      if (got != want)
        println(s"MISMATCH ents=$ents\n got=$got\n want=$want")
      got == want
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("d31b machinery on d31's own slice returns EXACTLY d31's argmin " +
    "rows at dist <= tau (no recall loss on the graded threshold)") {
    val sf = "/root/testdata/sf0.001"
    val d31 = Dedup.queries("d31_fuzzy_entity")(spark, sf).collect()
      .filter(_.getLong(2) <= 2L)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ents = graft.Tables.load(spark, sf, "customer")
      .filter(org.apache.spark.sql.functions.col("c_custkey") < 500)
      .selectExpr("c_custkey AS ek", "c_name AS en",
        "c_custkey < 30 AS is_probe")
    val blocked = Dedup.blockedNearest(ents, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Any candidate at dist <= tau implies the global argmin is at
    // dist <= tau and the two argmins coincide — so equality, not
    // just containment.
    assert(blocked == d31,
      s"blocked=$blocked\n d31(dist<=2)=$d31")
  }

  /** In-memory d34 reference: per eval doc, distinct K-windows, how
    * many appear anywhere in training, distinct contaminating training
    * docs, containment fraction. */
  private def bruteDecontam(docs: Seq[(Long, String)], k: Int,
                            isEval: Long => Boolean)
      : Map[Long, (Long, Long, Long, Double)] = {
    def wins(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      (1 to toks.length - k + 1)
        .map(p => toks.slice(p - 1, p - 1 + k).mkString(" ")).toSet
    }
    val evalDocs = docs.filter(d => isEval(d._1))
    val train = docs.filterNot(d => isEval(d._1))
      .map { case (id, t) => id -> wins(t) }
    evalDocs.map { case (id, t) =>
      val w = wins(t)
      val shared = w.filter(h => train.exists(_._2.contains(h)))
      val contam = train.filter(_._2.exists(w.contains)).map(_._1)
        .distinct
      val cont = if (w.nonEmpty) shared.size.toDouble / w.size else 0.0
      id -> (w.size.toLong, shared.size.toLong, contam.size.toLong, cont)
    }.toMap
  }

  test("d34 decontamination equals in-memory brute force (distinct " +
    "windows, cross-corpus containment, contaminating-doc counts)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, split => fsplit}
    val genCase = for {
      k <- Gen.choose(2, 4)
      nDocs <- Gen.choose(4, 12)
      docs <- Gen.sequence[Seq[(Long, String)], (Long, String)](
        (0 until nDocs).map { id =>
          for {
            n <- Gen.choose(1, 30)
            toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
          } yield (id.toLong, toks.mkString(" "))
        })
    } yield (k, docs)
    val prop = Prop.forAll(genCase) { case (k, docs) =>
      val df = docs.toDF("doc_id", "text")
        .withColumn("toks", fsplit(col("text"), " "))
      val got = Dedup.decontaminationReport(df, k, col("doc_id") % 3 === 0)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
      val want = bruteDecontam(docs, k, _ % 3 == 0)
      val ok = got == want
      if (!ok) println(s"d34 k=$k got $got != brute $want on $docs")
      spark.catalog.clearCache()
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("d37 deletion audit equals in-memory brute force on arbitrary " +
    "cluster/source/deletion layouts") {
    val s = spark
    import s.implicits._
    // Few clusters + few sources → every interesting case appears:
    // keeper deleted with cross-source re-election, full erasure,
    // untouched clusters, singletons.
    val genCase = for {
      n <- Gen.choose(3, 16)
      rows <- Gen.sequence[Seq[(Long, String, Long, Long, Long)],
        (Long, String, Long, Long, Long)](
        (0 until n).map { id =>
          for {
            src <- Gen.oneOf("sA", "sB", "sC")
            nt <- Gen.choose(1L, 8L) // narrow → frequent keeper ties
            del <- Gen.oneOf(0L, 1L)
            cl <- Gen.choose(0L, 4L)
          } yield (id.toLong, src, nt, del, cl)
        })
    } yield rows
    def brute(rows: Seq[(Long, String, Long, Long, Long)])
        : Map[String, (Long, Long, Long, Long, Long, Long, Long, Long,
          Long)] =
      rows.groupBy(_._5).values.map { ms =>
        val ord = ms.sortBy(m => (-m._3, m._1)) // n_toks DESC, doc_id
        val keeper = ord.head
        val nDel = ms.count(_._4 == 1L).toLong
        val surv = ord.find(_._4 == 0L)
        (keeper._2, ms.size.toLong, nDel,
          ms.filter(_._4 == 1L).map(_._3).sum,
          keeper._4, surv,
          if (nDel == ms.size) 1L else 0L)
      }.toSeq.groupBy(_._1).map { case (src, cls) =>
        src -> (cls.size.toLong, cls.map(_._2).sum, cls.map(_._3).sum,
          cls.map(_._4).sum,
          cls.count(_._3 > 0).toLong,
          cls.map(_._5).sum,
          cls.count(c => c._5 == 1L && c._6.nonEmpty).toLong,
          cls.map(_._7).sum,
          cls.count(c => c._5 == 1L &&
            c._6.exists(_._2 != src)).toLong)
      }
    val prop = Prop.forAll(genCase) { rows =>
      val df = rows.toDF("doc_id", "source", "n_toks", "del", "cluster")
      val got = Dedup.deletionAudit(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8), r.getLong(9)))
        .toMap
      val want = brute(rows)
      val ok = got == want
      if (!ok) println(s"d37 got $got != brute $want on $rows")
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("d38 capped redistribution equals in-memory brute force and " +
    "never overdraws budget or supply") {
    val s = spark
    import s.implicits._
    val genCase = for {
      n <- Gen.choose(1, 8)
      rows <- Gen.sequence[Seq[(String, Long, Long)],
        (String, Long, Long)](
        (0 until n).map { i =>
          for {
            avail <- Gen.choose(1L, 1000L)
            w <- Gen.choose(1L, 20L)
          } yield (f"s$i%02d", avail, w)
        })
    } yield rows
    def brute(rows: Seq[(String, Long, Long)])
        : Map[String, (Long, Long, Long, Long, Long, Long, Long,
          Double)] = {
      val ta = rows.map(_._2).sum; val tw = rows.map(_._3).sum
      val b = ta / 3
      val r1 = rows.map { case (src, av, w) =>
        val a1 = math.min(av, w * b / tw)
        (src, av, w, a1, if (a1 < av) 1L else 0L)
      }
      val l1 = b - r1.map(_._4).sum
      val wu = r1.filter(_._5 == 1L).map(_._3).sum
      r1.map { case (src, av, w, a1, open) =>
        val a2 = if (open == 1L && wu > 0) math.min(av - a1, w * l1 / wu)
          else 0L
        src -> (w, av, b, a1, a2, a1 + a2, 1L - open,
          (a1 + a2).toDouble / av.toDouble)
      }.toMap
    }
    val prop = Prop.forAll(genCase) { rows =>
      val df = rows.toDF("source", "avail", "w")
      val gotRows = Dedup.cappedRedistribution(df).collect()
      val got = gotRows.map(r => r.getString(0) -> (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getDouble(8))).toMap
      val want = brute(rows)
      val b = want.values.head._3
      // Invariants a mixer must never break: per-source alloc within
      // supply, total alloc within budget, saturated sources excluded
      // from round 2.
      val sane = gotRows.forall { r =>
        r.getLong(6) <= r.getLong(2) &&
        (r.getLong(7) == 0L || r.getLong(5) == 0L)
      } && gotRows.map(_.getLong(6)).sum <= b
      val ok = got == want && sane
      if (!ok) println(s"d38 got $got != brute $want (sane=$sane) on $rows")
      ok
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
