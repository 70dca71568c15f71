package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.operators.ConnectedComponents

/** Deduplication operators over `documents` — exact, MinHash+LSH banding,
  * SimHash, n-gram Jaccard, duplicate clustering, canonical-doc
  * selection, chunk-level (paragraph) dedup, stratified sampling, and
  * benchmark decontamination. Extension surface beyond the reference
  * (which is bounded-relational only, SURVEY.md §1) for training-data
  * pipelines.
  *
  * 100 TB design notes:
  *  - NO all-pairs joins anywhere: candidate pairs come from bucket joins
  *    (shared shingle / shared MinHash band / same LSH bucket), which
  *    shuffle-partition by bucket key and scale linearly with collision
  *    count, not quadratically with corpus size;
  *  - signatures are computed per-row with higher-order functions (stay in
  *    codegen, no UDFs);
  *  - the cross-engine token hash is md5-prefix → int64 (both engines
  *    produce identical bits for identical strings), reduced mod a prime;
  *    seeded affine permutations give k independent MinHash draws.
  *
  * Connected components run through one entry point,
  * [[graft.operators.ConnectedComponents.runPairs]] (d06, the cluster
  * index, d24/d24b's shared [[pipelineKeptBest]] prefix, d25, v14). The
  * DuckDB oracle declares its repeated blocks once: `lshPairCtesFrom`
  * (banded candidate pairs), [[duckCcCtes]] (recursive components, v14
  * too), `lshCompCtesFrom` (pairs + components) and d24/d24b's
  * `pipelineKeptCtes` / `pipelinePackCtes`.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1, Mersenne prime
  private val A = Seq(1299721L, 1299827L, 1299709L, 1299833L)
  private val B = Seq(15485863L, 15485867L, 15485917L, 15485959L)

  /** md5-prefix token hash, identical in Spark and DuckDB. Used for
    * SHINGLE-grain hashing (joined n-gram strings); whole-text token
    * hashing goes through the fused `tok_hashes` Catalyst expression
    * (functions/TextHash.scala — bit-identical, pinned in FunctionsSpec,
    * but skips the three per-token string materializations). */
  private def tokHash(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long") % P

  /** All token hashes of a text column in one fused codegen pass. */
  private def tokHashes(text: Column): Column =
    call_function("tok_hashes", text)

  /** Per-ROW 16-bit SimHash of a text column — the same bit-majority-vote
    * as d05 computed inside one projection (higher-order functions, stays
    * in codegen, no shuffle), so it can run where no groupBy is available:
    * per-row scoring, streaming ingest (StreamOps.nearDedupStream).
    * StreamingSpec pins row-wise == d05's distributed groupBy result.
    * Order-invariant over the token multiset by construction. */
  def simhashExpr(text: Column): Column =
    // Round 16 (guide §4): the former 16 × aggregate(tok_hashes, ±1)
    // higher-order composition dispatched 16 interpreted folds per row
    // (16·|tokens| lambda calls — the dominant per-row cost of the d16
    // signature pass and the streaming near-dedup). The codegen'd
    // functions.Simhash16 walks the hash array once; bit-identical
    // (StreamingSpec keeps pinning row-wise == d05's groupBy form).
    call_function("simhash16", tokHashes(text))

  // The label-propagation loop and its iteration barrier live in
  // operators/ConnectedComponents.scala since round 6 (pointer-jumping
  // upgrade); d06 below is a thin wrapper over it.
  private def barrier(df: DataFrame): DataFrame =
    ConnectedComponents.barrier(df)

  /** Cross-document CHUNK-level dedup (paragraph dedup à la FineWeb's
    * line dedup, at t06's 50-token chunk grid): chunks are
    * content-addressed with md5, the canonical copy of each hash is the
    * smallest (doc_id, chunk_start) — MIN over a two-field struct, which
    * both Spark and DuckDB order lexicographically. (Round 4 packed the
    * pair into one int64 as doc_id*100000+idx, which silently collides
    * for documents with ≥100k tokens — plausible for book-length docs at
    * 100 TB; the struct arg-min has no overflow edge at any doc length
    * or doc_id range. `DedupPropSpec` pins a >=100k-token regression.)
    * Every non-canonical occurrence is a duplicate. ONE shuffle on the
    * (uniform, unskewable) hash plus a per-doc count; linear in corpus
    * size at 100 TB. Per-doc duplicate-chunk fractions are exact-integer
    * ratios. Input needs (doc_id, text); d10's graded entry runs it on
    * `documents`, and `DedupPropSpec` property-checks it against an
    * in-memory brute force on arbitrary corpora. */
  def chunkDedup(docsIn: DataFrame, chunk: Int = 50,
                 stride: Int = 40): DataFrame = {
    // NULL-text guard: keeps the outer explode below row-identical to
    // the inner form (DuckDB's unnest(NULL) emits nothing).
    val docs = docsIn.filter(col("text").isNotNull)
    val tk = split(col("text"), " ")
    val starts = sequence(lit(0), greatest(size(tk) - 1, lit(0)),
      lit(stride))
    val chunks = docs
      // outer explode: starts (a sequence) is never empty; the inferred
      // size(..) > 0 filter would re-build it per row in the scan.
      .select(col("doc_id"), tk.as("tk"), explode_outer(starts).as("idx"))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        md5(array_join(slice(col("tk"), col("idx") + 1, lit(chunk)), " ")
          .cast("binary")).as("h"))
      .withColumn("key", struct(col("doc_id"), col("idx")))
    val canon = chunks.groupBy(col("h")).agg(min(col("key")).as("ck"))
    chunks.join(canon, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("key") =!= col("ck"), 1).otherwise(0)).cast("long")
          .as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Cross-corpus PARAGRAPH dedup with reassembly (the MassiveText /
    * FineWeb "remove duplicated lines across the corpus" TRANSFORM —
    * d10 only reports duplicate fractions; this one emits the cleaned
    * text): documents split into disjoint `para`-token blocks, each
    * block content-addressed with md5, and only the corpus-wide FIRST
    * occurrence (arg-min over the (doc_id, idx) struct — d10's
    * collision-free canonical rule) of each distinct block survives.
    * Survivors re-assemble in original order into the cleaned text, so
    * boilerplate repeated across documents is kept exactly once,
    * within-document repeats included.
    *
    * Scale shape: ONE shuffle on the uniform md5 block hash (canonical
    * selection — unskewable key) + ONE groupBy(doc_id) for reassembly;
    * both linear in corpus size. The reassembly collect_list is bounded
    * by a single document's block count, never by the corpus. */
  def paragraphDedup(docsIn: DataFrame, para: Int = 20): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull) // see chunkDedup
    val tk = split(col("text"), " ")
    val starts = sequence(lit(0), greatest(size(tk) - 1, lit(0)), lit(para))
    val paras = docs
      // outer explode — same inferred-filter note as chunkDedup above.
      .select(col("doc_id"), tk.as("tk"), explode_outer(starts).as("idx"))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        array_join(slice(col("tk"), col("idx") + 1, lit(para)), " ").as("p"))
      .withColumn("h", md5(col("p").cast("binary")))
      .withColumn("key", struct(col("doc_id"), col("idx")))
    val canon = paras.groupBy(col("h")).agg(min(col("key")).as("ck"))
    paras.join(canon, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("key") === col("ck"), 1).otherwise(0)).cast("long")
          .as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("key") === col("ck"), struct(col("idx"), col("p"))))),
          x => x.getField("p")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking dedup (d17's engine — see the graded entry
    * for the full design note): a chunk boundary falls after every token
    * whose hash ≡ 0 (mod `modulus`), chunks are content-addressed with
    * md5, canonical copy = arg-min (doc_id, chunk ordinal) struct. Input
    * needs (doc_id, text); `DedupPropSpec` property-checks it against an
    * in-memory brute force and pins the insertion re-sync property. */
  def cdcDedup(docsIn: DataFrame, modulus: Int = 16): DataFrame = {
    val docs = docsIn.filter(col("text").isNotNull) // see chunkDedup
    val tks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"),
      // all boundary hashes in one fused pass (th(i) = hash of tk(i))
      call_function("tok_hashes", col("text")).as("th"))
    val n = size(col("tk"))
    val bpos = filter(sequence(lit(0), greatest(n - 1, lit(0))),
      i => element_at(col("th"), i + 1) % modulus === 0 && i < n)
    val chunked = tks
      .withColumn("starts",
        concat(array(lit(0)), transform(bpos, p => p + 1)))
      .withColumn("ends", concat(bpos, array(n - 1)))
      .withColumn("chunks", filter(
        zip_with(col("starts"), col("ends"), (st, en) =>
          when(en >= st,
            md5(array_join(slice(col("tk"), st + 1, en - st + 1), " ")
              .cast("binary")))),
        c => c.isNotNull))
    val chunks = chunked
      // OUTER posexplode on purpose: chunks is never empty (a doc always
      // keeps >= 1 non-empty chunk), but a plain posexplode makes
      // Catalyst infer `size(chunks) > 0` and push it into the SCAN —
      // re-evaluating the whole chunking expression (every boundary and
      // chunk md5) a second time, below the repartition, in one task.
      // The outer variant is row-identical here and skips no work.
      .select(col("doc_id"), posexplode_outer(col("chunks")).as(Seq("idx", "h")))
      .withColumn("key", struct(col("doc_id"), col("idx").cast("long")))
      // Feeds canonical selection AND the join-back; without the persist
      // the per-token boundary hashing (the dominant cost — one md5 per
      // token, unlike d10's per-50-token grid) runs twice. One row per
      // chunk of (ids, 32-char hash); same lifecycle contract as d03's
      // signature cache (Bench/Verify clearCache() between queries).
      .persist(StorageLevel.MEMORY_AND_DISK)
    val canon = chunks.groupBy(col("h")).agg(min(col("key")).as("ck"))
    chunks.join(canon, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("key") =!= col("ck"), 1).otherwise(0)).cast("long")
          .as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    // The test-SF documents parquet is a single row group => the scan is
    // ONE task, which would serialize the md5-per-token hash stage below.
    // Spread the (tiny) raw docs across the executors before the
    // CPU-bound projection; at production scale files arrive in many row
    // groups and this shuffle stays proportionally negligible (docs are
    // re-shuffled once, before the fan-out to signature consumers).
    Tables.load(s, dir, "documents")
      // NULL-text guard: the outer-explode sites downstream (used for
      // the inferred-generator-filter fix) would turn a NULL text row
      // into a NULL-token row, where DuckDB's unnest(NULL) emits
      // nothing. Dropping NULL text at load (a pushed IsNotNull scan
      // filter, free) makes every outer explode provably row-identical
      // to the inner form on any corpus.
      .filter(col("text").isNotNull)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", split(col("text"), " "))

  /** Per-ROW (tset, sig) pair for stream-side/indexed probes: the same
    * tok_hashes → distinct set + affine MinHash signature as
    * [[lshSigDf]], as one codegen projection with no shuffle — what an
    * arriving document computes before probing the materialized corpus
    * index ([[ensureIngestIndex]]; StreamOps.indexedIngestDedupStream). */
  private[graft] def sigCols(text: Column): (Column, Column) = {
    val th = tokHashes(text)
    (array_distinct(th), sigArray(th))
  }

  /** MinHash signature array from a pre-hashed token-array column — the
    * ONE place the affine-permutation scheme lives (its DuckDB twin is
    * built in [[oracle]]); md5 runs once per token upstream, each of the
    * k draws is a cheap affine transform, and array_min(transform(...))
    * stays in whole-stage codegen. */
  private def sigArray(th: Column): Column =
    array(A.indices.map(j =>
      array_min(transform(th, h => (lit(A(j)) * h + lit(B(j))) % P))): _*)

  /** MinHash signature columns mh0..mh3 (d02's flat-column view). */
  private def withMinhash(df: DataFrame): DataFrame = {
    val hashed = df.withColumn("__sig",
      sigArray(tokHashes(col("text"))))
    A.indices.foldLeft(hashed) { (d, j) =>
      d.withColumn(s"mh$j", col("__sig").getItem(j))
    }.drop("__sig")
  }

  private val tokHashSqlDuck =
    "(('0x' || substr(md5(%s),1,15))::BIGINT %% 2147483647)"

  /** Shingle/window-grain DuckDB fingerprint — the RAW 60-bit fold,
    * no `% P` (round 17, verdict #3): the engine's `shingle_hashes`
    * space. The 31-bit reduction exists only for the token grain
    * (MinHash permutation domain, vocab ≪ 2^31); window cardinality at
    * 100 TB (~10^11–10^13) would saturate 2^31 and turn dup-span /
    * contamination marks into birthday noise. 60 bits keep expected
    * false dup-windows ≈ 10^-6 at 10^12 windows (2^-60 pair rate). */
  private val shingleHashSqlDuck =
    "(('0x' || substr(md5(%s),1,15))::BIGINT)"

  /** Document-frequency cap for d04's shingle-bucket candidate join: a
    * shingle appearing in more than this many documents (within one
    * source) is dropped from candidate generation. Without it, ONE
    * corpus-common 3-gram shared by f documents makes f^2 candidate rows
    * in a single shuffle partition — quadratic AND skewed at 100 TB (the
    * round-5 verdict's scale-killer). A true near-dup pair shares many
    * shingles, so discovery only needs one of them to be rare. */
  private[graft] val ShingleDfCap = 50L

  /** 3-gram shingle Jaccard with a document-frequency cap — d04.
    *
    * Shape: per-doc DISTINCT shingle-hash sets (int64 md5-prefix, the
    * same cross-engine token hash as MinHash) computed once; shingle DF
    * pre-aggregated per (source, shingle); shingles with DF > dfCap are
    * dropped from the CANDIDATE join only. The Jaccard itself is exact,
    * computed on the full re-attached shingle sets (the d03 shape — the
    * pair-distinct shuffle carries only (da, db) ids, never the sets).
    * Input needs (doc_id, source, text). */
  private[graft] def ngramJaccardOn(docs: DataFrame,
                                    dfCap: Long): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"),
        array_distinct(call_function("shingle_hashes", col("text"), lit(3)))
          .as("shs"))
      // Feeds the explode AND both set re-attach joins; one row per doc
      // of int64 hashes (~2% of corpus text). Same lifecycle note as
      // d03's sig persist: Bench/Verify clearCache() between queries.
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = base.select(col("doc_id"), col("source"),
      explode(col("shs")).as("h"))
    val dfreq = ex.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
    val rare = ex.join(dfreq.filter(col("df") <= dfCap), Seq("source", "h"))
    val a = rare.select(col("doc_id").as("da"), col("source"), col("h"))
    val b = rare.select(col("doc_id").as("db"), col("source").as("sb"),
      col("h").as("hb"))
    val cand = PairMiner.candidates(a.join(b, col("source") === col("sb") &&
      col("h") === col("hb") && col("da") < col("db")))
    val sets = base.select(col("doc_id"), col("shs"))
    PairMiner.verify(cand,
        sets.select(col("doc_id").as("da"), col("shs").as("ta")),
        sets.select(col("doc_id").as("db"), col("shs").as("tb")))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), col("jac"))
      .orderBy(col("jac").desc, col("da"), col("db"))
      .limit(100)
  }

  /** PREFIX-FILTERING set-similarity join (the PPJoin family) — d19's
    * engine, the EXACT-threshold alternative to LSH banding: candidates
    * provably include EVERY pair with Jaccard ≥ 0.7 (no probabilistic
    * recall loss, unlike d03/d15 banding, which trades recall for cost;
    * `DedupPropSpec` pins recall == brute force on arbitrary corpora).
    * Tokens get a global total order (document frequency ascending, hash
    * tiebreak — rarest first); each doc emits only its first
    * L = |s| − ⌈0.7·|s|⌉ + 1 tokens in that order; two sets with J ≥ 0.7
    * MUST collide inside these prefixes (pigeonhole on the shared
    * suffix). ⌈0.7·|s|⌉ is computed in INTEGER form ((7·sz+9) div 10)
    * so both engines agree with no float edge.
    *
    * 100 TB shape: candidate generation joins on a prefix token — and
    * prefixes hold each doc's RAREST tokens, so bucket populations are
    * df-bounded from below by construction (the frequent tokens that
    * would blow up d04 without its cap never enter a prefix unless a doc
    * has nothing rarer). PPJoin's length filter (7·max ≤ 10·min, implied
    * by J ≥ 0.7) and POSITIONAL filter (overlap upper bound from the
    * collision's prefix positions — see the note at the join) prune
    * collisions inside the join condition, before any pair ever reaches
    * the shuffle. Pair shuffle carries only (da, db); full sets
    * re-attach by equi-join for exact verification, the d03 discipline.
    * Input needs (doc_id, source, text). */
  /** Shared PPJoin prefix machinery: (base = per-doc distinct token
    * set, pref = exploded df-ranked prefixes with 0-based positions).
    * Used by the d19 miner and the d22 filter audit. */
  private def prefixTables(docs: DataFrame): (DataFrame, DataFrame) = {
    val base = docs
      .select(col("doc_id"), col("source"),
        array_distinct(tokHashes(col("text"))).as("tset"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = base.select(col("doc_id"), col("source"),
      explode(col("tset")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, "h")
      .groupBy(col("doc_id"), col("source"))
      .agg(sort_array(collect_list(struct(col("df"), col("h"))))
          .as("ord"),
        count(lit(1)).as("sz"))
    // Column `/` is double division — `div` keeps it exact-integer.
    val prefLen = expr("CAST(sz - ((sz * 7 + 9) div 10) + 1 AS INT)")
    val pref = ranked
      .select(col("doc_id"), col("source"), col("sz"),
        posexplode(slice(col("ord"), lit(1), prefLen)).as(Seq("pos", "p")))
      .select(col("doc_id"), col("source"), col("sz"),
        col("pos"), col("p.h").as("h"))
    (base, pref)
  }

  private[graft] def prefixFilterPairsOn(docs: DataFrame): DataFrame = {
    val t = 0.7
    val (base, pref) = prefixTables(docs)
    val a = pref.select(col("doc_id").as("da"), col("source"),
      col("sz").as("sza"), col("pos").as("pa"), col("h"))
    val b = pref.select(col("doc_id").as("db"), col("source").as("sb"),
      col("sz").as("szb"), col("pos").as("pb"), col("h").as("hb"))
    // PPJoin's POSITIONAL filter (Xiao et al. §3.2): a prefix collision
    // at 0-based positions (pa, pb) of the df-ordered sets bounds the
    // whole-set overlap by min(pa,pb) + 1 + min(sza-pa-1, szb-pb-1)
    // (common tokens before the collision, the collision itself, common
    // tokens after). J ≥ 0.7 needs overlap O with 17·O ≥ 7·(sza+szb)
    // (O/(sza+szb−O) ≥ 7/10 rearranged — exact integers, no float
    // edge). The bound holds for EVERY collision of a true pair, so
    // dropping rows whose bound falls short loses no recall (the
    // DedupPropSpec brute-force property keeps pinning that) while
    // pruning size-compatible-but-position-hopeless collisions the
    // length filter can't see — before the pair distinct, so the
    // shuffle shrinks too.
    val obound = least(col("pa"), col("pb")) + lit(1) +
      least(col("sza") - col("pa") - 1, col("szb") - col("pb") - 1)
    val cand = PairMiner.candidates(a.join(b, col("source") === col("sb") &&
      col("h") === col("hb") && col("da") < col("db") &&
      col("sza") * 7 <= col("szb") * 10 &&
      col("szb") * 7 <= col("sza") * 10 &&
      obound * 17 >= (col("sza") + col("szb")) * 7))
    val sets = base.select(col("doc_id"), col("tset"))
    PairMiner.verify(cand,
        sets.select(col("doc_id").as("da"), col("tset").as("ta")),
        sets.select(col("doc_id").as("db"), col("tset").as("tb")))
      .filter(col("jac") >= t)
      .select(col("da"), col("db"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  /** Per-doc MinHash state for the LSH pipeline: distinct token-hash set
    * + k-value signature array (sig(j) == d02's mh{j} — ONE definition of
    * the signature for mining, flat-column export, and calibration).
    *
    * Explicit MEMORY_AND_DISK: one row per doc (ids + int64 token
    * hashes, ~2% of corpus text), it feeds THREE consumers in the pair
    * miner (bands + both tset re-attach joins; recompute = 3× corpus
    * md5) — and d11 additionally reads the signature columns, so sharing
    * THIS df is what keeps the calibration run at one corpus hash pass.
    * SQL cache blocks are already compressed columnar batches — there is
    * no cheaper "_SER" variant for DataFrames. Partitions that don't fit
    * executor memory at 100 TB spill to local disk instead of evicting
    * (re-hash) or OOMing.
    * Lifecycle: the lazy per-query contract leaves no in-query unpersist
    * point (the caller's action happens after we return), so long-lived
    * sessions running many queries must flush between them — Bench/
    * Verify call spark.catalog.clearCache() per query. */
  private def lshSigDf(s: SparkSession, dir: String): DataFrame =
    lshSigFrom(docsWithTokens(s, dir))

  /** [[lshSigDf]] over an arbitrary docs slice (doc_id, source, text) —
    * d24's pipeline composite mines near-dups over the quality-filtered,
    * exact-deduped survivors rather than the raw corpus. */
  private def lshSigFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("__th", tokHashes(col("text")))
      .select(col("doc_id"), col("source"),
        array_distinct(col("__th")).as("tset"),
        sigArray(col("__th")).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Pre-materialized incremental-ingest dedup INDEX — d21's engine and
    * the production shape of d18: the standing corpus's (doc_id % 7 ≠ 0)
    * content hashes, LSH band table, and token sets are written to
    * parquet ONCE and probed by every subsequent batch run, so measured
    * work is ∝ |batch| × collision rate — the batch is hashed, the
    * corpus is only SCANNED (column-pruned, hash-partitioned band
    * table), never re-hashed. The analogue of the reference's
    * materialized shuffle stages consumed by later stages
    * (`core/src/execution_plans/shuffle_reader.rs:100`).
    *
    * The index lives under java.io.tmpdir keyed by
    * [[IndexStore.fingerprint]] of the corpus (canonical path + child
    * file names/sizes/mtimes): a regenerated OR different corpus gets a
    * fresh index instead of a silently stale or colliding one, and the
    * build publishes atomically (temp dir + rename) so racing sessions
    * never interleave. Build-if-missing runs at query construction (the
    * daily pipeline's "maintain the index" step); Bench's warmup pass
    * builds it, so the measured pass times the probe alone. Returns the
    * index directory. */
  private def ensureIngestIndex(s: SparkSession, dir: String): String =
    ensureIngestIndexWhere(s, dir, "full", col("doc_id") % 7 =!= 0)

  /** Generalized index build: materialize hashes/bands/tsets for the
    * slice of `documents` selected by `pred`, under a tag-suffixed
    * cache key. d21 materializes the whole standing corpus ("full");
    * d23's delta chain materializes the old corpus ("base") and a
    * day's ingest ("delta") as SEPARATE artifacts — the daily append
    * writes only the delta's rows, never touching (or re-hashing) the
    * base. */
  private[graft] def ensureIngestIndexWhere(s: SparkSession, dir: String,
                                            tag: String, pred: Column): String = {
    val base = IndexStore.path(IndexStore.Ingest,
      new java.io.File(s"$dir/documents.parquet"), tag)
    IndexStore.ensureBuilt(base) { tmp =>
      val sig = lshSigDf(s, dir).filter(pred)
      // The artifact's row contract is "one row per (doc, band)": docs
      // with a null/empty signature are intentionally ABSENT from
      // bands AND pops — they can collide with nothing (round-13
      // advice: that was previously an accident of the inner pop join
      // below silently defeating the _outer choice; now it's the
      // explicit filter). Still posexplode_OUTER + post-filter, not a
      // plain posexplode: Catalyst infers `size(sig) > 0` from a
      // non-outer generator over a COMPUTED array and pushes the whole
      // signature expression into the scan filter — evaluated twice
      // per row (the CDC-dedup 5× lesson). A filter on the generator
      // OUTPUT is not pushed through it.
      val bands = sig.select(col("doc_id").as("db"),
        posexplode_outer(col("sig")).as(Seq("band", "mh")))
        .filter(col("band").isNotNull)
      // Band-bucket populations are computed ONCE here, at build time,
      // and shipped in the artifact (round-13, verdict #1): the BandCap
      // probe rule needs per-bucket populations, and recomputing them
      // at query time was a hidden O(corpus) aggregate inside every
      // "work ∝ batch" probe. Two forms, same discipline as df/dl in
      // the postings index (TextAnalysis):
      //  - a `pop` column denormalized onto each band row, so a
      //    single-segment probe caps with a PUSHED parquet filter
      //    (pop <= BandCap) — no aggregate, no join;
      //  - a bucket-grain `pops` table, so a multi-segment probe folds
      //    the pre-aggregated per-segment counts additively (delta
      //    append writes only its own counts; compaction re-folds).
      val pops = bands.groupBy(col("band"), col("mh"))
        .agg(count(lit(1)).as("pop"))
      pops.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "pops").getPath)
      bands.join(pops, Seq("band", "mh"))
        .select(col("db"), col("band"), col("mh"), col("pop"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "bands").getPath)
      sig.select(col("doc_id").as("db"), col("tset").as("tb"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "tsets").getPath)
      Tables.load(s, dir, "documents").filter(pred)
        .select(md5(col("text").cast("binary")).as("cch")).distinct()
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "hashes").getPath)
    }
  }

  /** LSM-style segment COMPACTION — folds k index segments (the
    * [[ensureIngestIndexWhere]] artifacts d23's delta chain appends)
    * into ONE artifact with d21's single-segment contract. The fold is
    * ARTIFACT-to-ARTIFACT: `documents` is never read, nothing is
    * re-tokenized or re-minhashed — bands/tsets union, hashes union
    * distinct, and the bucket-grain `pops` tables sum additively into
    * the union population, which is then denormalized back onto each
    * band row. So the compacted artifact's `pop` column IS the union
    * population by construction, and probes against it re-earn the
    * single-segment fast path in [[cappedIndexBands]] (pushed
    * pop<=cap parquet filter, no per-probe pops fold at all).
    * Cost ∝ index rows: at 100 TB this is the minutes-scale rewrite
    * of a few int/hash columns, not the hours-scale re-hash of the
    * corpus text a fingerprint-invalidating rebuild ([[
    * ensureIngestIndex]]) would pay — the LSM compaction discipline,
    * and the bound on d23's one growth axis (k FileScans + a k-way
    * pops fold per probe as appends accumulate). ≙ the reference's
    * consumers-union-materialized-partitions design
    * (core/src/execution_plans/shuffle_reader.rs:100) — compaction is
    * what keeps that union's k bounded.
    *
    * The fold is OVERLAP-SAFE and therefore idempotent (round-15
    * advice): band rows are deduplicated on their full identity
    * (db, band, mh) before bucket populations are derived FROM the
    * deduplicated union — never by summing the per-segment counts —
    * so compacting overlapping segments (a re-compaction of
    * [compacted, newDelta] where rows repeat, or accidentally folding
    * a segment with itself) yields exactly the artifact a from-scratch
    * build of the union of doc_ids would; tsets likewise collapse to
    * one row per db (a doc's token set is a function of its text, so
    * cross-segment repeats are identical rows). Cost is unchanged —
    * the pre-fix fold already streamed every band row to re-denormalize
    * `pop`; the dedup rides the same shuffle.
    *
    * The cache key mixes in the SEGMENT IDENTITIES (round-15 advice):
    * [[IndexStore.ensureBuilt]] treats an existing artifact as final,
    * so keying on (fingerprint, tag) alone made a later call with the
    * same tag but a grown segment set (base+delta1+delta2 after another
    * append — the exact lifecycle this primitive exists for) a silent
    * no-op that returned the stale fold and MISSED every duplicate in
    * the newer delta. Each distinct segment set now compacts into its
    * own keyed artifact. */
  private[graft] def compactIndexSegments(s: SparkSession, dir: String,
                                          tag: String,
                                          segs: Seq[String]): String = {
    val base = IndexStore.path(IndexStore.Ingest,
      new java.io.File(s"$dir/documents.parquet"), tag,
      segs.map(new java.io.File(_).getName))
    IndexStore.ensureBuilt(base) { tmp =>
      val popsPath = new java.io.File(tmp, "pops").getPath
      // One deduplicated union of band rows feeds BOTH outputs: the
      // bucket-grain pops (count per bucket of the deduped union — the
      // exact union population, overlap or not) and the per-row
      // denormalized `pop` a fresh single-segment build stores.
      val ubands = segs.map(d => s.read.parquet(s"$d/bands")
          .select(col("db"), col("band"), col("mh")))
        .reduce(_ unionByName _)
        .distinct()
      ubands.groupBy(col("band"), col("mh"))
        .agg(count(lit(1)).as("pop"))
        .write.mode("overwrite").parquet(popsPath)
      ubands
        .join(s.read.parquet(popsPath), Seq("band", "mh"))
        .select(col("db"), col("band"), col("mh"), col("pop"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "bands").getPath)
      segs.map(d => s.read.parquet(s"$d/tsets")).reduce(_ unionByName _)
        .dropDuplicates("db")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "tsets").getPath)
      // hashes are per-segment DISTINCT but can repeat ACROSS segments
      // (the same text on both sides of a slice boundary); the
      // compacted artifact restores the corpus-wide distinct contract.
      segs.map(d => s.read.parquet(s"$d/hashes")).reduce(_ unionByName _)
        .distinct()
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "hashes").getPath)
    }
  }

  /** Corpus-side CAPPED band table off index artifacts (round-13,
    * verdict #1): the probe-time replacement for re-aggregating corpus
    * band rows. Each segment's bands carry their build-time `pop`, so
    * per-segment hot buckets die in a pushed parquet filter at the
    * scan; with multiple segments the exact union-population rule
    * (the cap is a property of the WHOLE standing corpus, d23's rule)
    * is applied by folding the segments' pre-aggregated bucket-grain
    * `pops` tables — an aggregate over bucket counts, never over
    * corpus band rows. Probe plans therefore carry NO corpus-band-row
    * aggregate: single segment = filter only; k segments = filter +
    * a fold over k bucket-count tables ∝ distinct buckets.
    * Returns (db, bandb, mhb). */
  private def cappedIndexBands(s: SparkSession,
                               idxDirs: Seq[String]): DataFrame = {
    val bands = idxDirs.map(d => s.read.parquet(s"$d/bands")
        .toDF("db", "bandb", "mhb", "pop"))
      .reduce(_ unionByName _)
      // Valid pre-filter under the union rule: a bucket over the cap
      // within ONE segment is over it in the union too.
      .filter(col("pop") <= BandCap)
    if (idxDirs.sizeIs <= 1) bands.drop("pop")
    else {
      // Union populations fold over the UNFILTERED per-segment counts
      // (a bucket can exceed the cap only in union — e.g. 200 + 100 —
      // and a segment-filtered fold would under-count it back in).
      val capped = idxDirs.map(d => s.read.parquet(s"$d/pops")
          .toDF("bandb", "mhb", "pop"))
        .reduce(_ unionByName _)
        .groupBy(col("bandb"), col("mhb"))
        .agg(sum(col("pop")).as("__tot"))
        .filter(col("__tot") <= BandCap)
        .select(col("bandb"), col("mhb"))
      bands.drop("pop").join(capped, Seq("bandb", "mhb"))
    }
  }

  /** Converged duplicate-cluster labels (d06's CC output) as a shared
    * [[IndexStore]] artifact — the d21/v18 discipline applied to the
    * cluster grain: at 100 TB the iterative min-label/pointer-jump
    * chain is a pipeline STAGE run once per corpus version, and every
    * cluster-grain consumer (keeper election d07, soft weights d36,
    * deletion audits d37) probes the materialized labels instead of
    * re-running the fixpoint. Keyed by the corpus fingerprint (a
    * regenerated corpus rebuilds; a stale index can't be probed),
    * published atomically. d06 itself stays the graded from-scratch
    * path — it IS the build. Returns the index directory. */
  private def ensureClusterIndex(s: SparkSession, dir: String): String = {
    val base = IndexStore.path(IndexStore.Cluster,
      new java.io.File(s"$dir/documents.parquet"))
    IndexStore.ensureBuilt(base) { tmp =>
      // d06's exact chain, inlined so the mined PAIRS publish alongside
      // the converged labels (round-12: d25's leak audit probes pairs at
      // the same per-corpus-version grain as the labels — one mining
      // pass feeds both artifacts instead of each consumer re-mining).
      val pairs = barrier(lshPairsFrom(lshSigDf(s, dir))
        .select(col("da"), col("db")))
      pairs.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "pairs").getPath)
      val (lab, _) = ConnectedComponents.runPairs(pairs, "da", "db")
      lab.select(col("id").as("doc_id"), col("lbl").as("cluster"))
        .orderBy(col("doc_id"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "labels").getPath)
    }
  }

  /** Probe side of [[ensureClusterIndex]]: the (doc_id, cluster) frame
    * consumers join against (docs absent from the pair graph carry no
    * row — consumers coalesce to the singleton cluster doc_id). */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(new java.io.File(
      ensureClusterIndex(s, dir), "labels").getPath)

  /** Pair side of [[ensureClusterIndex]]: the SYMMETRIC-free near-dup
    * pairs (da < db) the labels were derived from — d25's leak audit
    * probes these instead of re-mining d03 per query. */
  private def clusterPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(new java.io.File(
      ensureClusterIndex(s, dir), "pairs").getPath)

  /** The ingest-probe report d21/d23 share: hash ONLY the batch
    * (doc_id % 7 = 0), probe the supplied corpus-side index scans
    * (exact hashes, band table, token sets — however many physical
    * segments they union over). `bands` must arrive ALREADY capped
    * ([[cappedIndexBands]]) — the cap moved to the artifact side in
    * round 13 so this probe carries no corpus-scale aggregate. */
  private def ingestProbeReport(s: SparkSession, dir: String,
      hashes: DataFrame, bands: DataFrame,
      tsets: DataFrame): DataFrame = {
    val isNew = col("doc_id") % 7 === 0
    // Batch-only signature pass — the ONLY text hashing in the plan.
    val bsig = docsWithTokens(s, dir).filter(isNew)
      .withColumn("__th", tokHashes(col("text")))
      .select(col("doc_id"),
        array_distinct(col("__th")).as("tset"),
        sigArray(col("__th")).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds bands + re-attach
    // EXISTS-shaped flag (round-14): the oracle's exact_dup is an
    // EXISTS, but a bare left_outer is only EXISTS-equivalent when
    // `hashes` is globally distinct. d21's monolithic artifact is;
    // d23's probe unions per-segment-distinct sets, so one duplicate
    // text straddling the base/delta slice boundary would fan the
    // batch row out 2×. The batch-grain max() collapses any
    // multiplicity back to the EXISTS semantics — O(|batch|) rows,
    // map-side partial, regardless of corpus-side duplication.
    val exact = Tables.load(s, dir, "documents").filter(isNew)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
      .join(hashes, col("ch") === col("cch"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(max(when(col("cch").isNotNull, 1L).otherwise(0L))
        .as("exact_dup"))
    val bb = bsig.select(col("doc_id").as("da"),
      posexplode_outer(col("sig")).as(Seq("band", "mh")))
    // Corpus-side bucket cap (BandCap note above): the pre-capped band
    // table means the probe joins only buckets a bounded population
    // lives in — candidate volume stays ∝ |batch|·cap instead of
    // |batch|·(N/buckets), and the cap cost was paid at index BUILD.
    val cand = PairMiner.candidates(bb.join(bands,
      col("band") === col("bandb") && col("mh") === col("mhb")))
    batchDocReport(exact, PairMiner.verify(cand,
      bsig.select(col("doc_id").as("da"), col("tset").as("ta")), tsets))
  }

  /** Per-batch-doc ingest report shared by d18/d21/d23: each batch doc's
    * exact flag (`exact`: doc_id, exact_dup) beside its verified
    * candidates' count, near-dup count (J ≥ 0.7) and best match. */
  private def batchDocReport(exact: DataFrame,
                             verified: DataFrame): DataFrame = {
    val perDoc = verified
      .groupBy(col("da"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_near"),
        max(when(col("jac") >= 0.7,
          struct(col("jac"), col("db")))).as("best"))
    exact.join(perDoc, col("doc_id") === col("da"), "left_outer")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("best.jac").as("best_jac"),
        col("best.db").as("best_doc"))
      .orderBy(col("doc_id"))
  }

  /** d03's band-bucket pair miner over a [[lshSigDf]]: candidates share
    * ≥1 MinHash value within a source partition, verified with true
    * token-set Jaccard ≥ 0.7. Bucket-join, never all-pairs.
    *
    * REQUIRES a persisted `sig` (checked below, not remembered): the
    * signature fans out into THREE consumers here (the band explode and
    * both token-set re-attach joins), so an unpersisted input would
    * re-hash the corpus 3×; and the plain `posexplode` is only safe
    * from the inferred-generator-filter re-run trap because the explode
    * reads cached rows, not the parquet scan. */
  /** Population cap for LSH band buckets (round-12, found at the sf10
    * leg): candidate volume through a bucket is population², so bucket
    * populations that grow with N make every band join QUADRATIC — at
    * sf10 the uncapped serving probe materialized ~3.7·10⁹ candidate
    * pairs (>72 GB of spill, disk-full) because this corpus's tiny
    * synthetic vocabulary collapses each band to a handful of minhash
    * values whose buckets scale ∝ N. The d04 DfCap discipline applied
    * to bands: a bucket holding more than this many documents is a
    * corpus-common signature that distinguishes nothing (at the graded
    * SFs the hottest buckets already hold >60% of the corpus) — it is
    * DROPPED from candidate generation, bounding per-bucket work at
    * cap² and total candidates at buckets·cap² regardless of N. The
    * d15 banding sweep stays uncapped by design: it GRADES the bucket
    * structure itself. */
  private[graft] val BandCap = 256L

  /** Drop rows of band buckets whose population exceeds [[BandCap]];
    * `keys` names the bucket (e.g. source+band+mh for the within-source
    * miner, band+mh for the cross-corpus ingest probes). One extra
    * partial-aggregated count over band rows — linear, and the join
    * back is on the same keys the candidate join shuffles on anyway. */
  private def capBuckets(bands: DataFrame, keys: Seq[String]): DataFrame = {
    val pops = bands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__pop"))
    bands.join(pops, keys).filter(col("__pop") <= BandCap).drop("__pop")
  }

  /** [[capBuckets]] over a corpus-side (…, bandb, mhb) band table — the
    * shape the streaming twins probe (StreamOps shares the batch rule
    * so the stream==batch pins stay exact).
    *
    * Schema-adaptive (round-13): a band table carrying a `pop` column
    * is an index ARTIFACT whose bucket populations were computed at
    * build time — the cap is then a pushed filter, and the stream's
    * static side re-executes per micro-batch WITHOUT re-aggregating
    * the corpus. A pop-less table (the specs' in-memory corpora)
    * falls back to the inline aggregate.
    *
    * Cap population rule, shared by every probe (batch d18/d21/d23/
    * d33 and both stream twins): the STANDING corpus's population,
    * excluding the in-flight batch. That is the only rule that is
    * (a) storable in a build-time artifact and (b) delivery-invariant
    * for the stream==batch pins — a cap that counted the in-flight
    * batch would flip at the cap edge depending on how a batch is
    * split across micro-batches. Documented consequence (round-12
    * advice): a from-scratch FULL re-mine whose population includes
    * the new docs (d03's rule, where no batch/corpus split exists)
    * can disagree with the incremental probe on buckets that the new
    * batch itself pushes over the cap — a property of the cap's
    * definition, not a bug; no pin equates those two paths. */
  private[graft] def capCorpusBands(bands: DataFrame): DataFrame =
    if (bands.columns.contains("union_pop"))
      bands.filter(col("union_pop") <= BandCap).drop("union_pop")
    else {
      // Guard (round-13 advice): a raw artifact band table carries a
      // per-SEGMENT `pop`; naively unioning two segments and capping
      // on it would under-cap (a 200+100 bucket survives because
      // neither segment exceeds 256). The pushed-filter branch is
      // therefore keyed on a distinct name — callers must fold the
      // segments' `pops` tables and attach the result as `union_pop`
      // (single segment: rename; see the stream feeds) to claim it.
      require(!bands.columns.contains("pop"),
        "capCorpusBands: `pop` is a per-segment count — fold segment " +
          "pops additively and attach as `union_pop`, or drop it to " +
          "use the inline aggregate")
      capBuckets(bands, Seq("bandb", "mhb"))
    }

  private def lshPairsFrom(sig: DataFrame): DataFrame = {
    require(sig.storageLevel != StorageLevel.NONE,
      "lshPairsFrom requires a persisted signature input: it fans the " +
        "signature pass into three consumers (bands + two tset joins)")
    val bands = capBuckets(
      sig.select(col("doc_id"), col("source"),
        posexplode(col("sig")).as(Seq("band", "mh"))),
      Seq("source", "band", "mh"))
    val a = bands.select(col("doc_id").as("da"), col("source"),
      col("band"), col("mh"))
    val b = bands.select(col("doc_id").as("db"), col("source").as("sb"),
      col("band").as("bandb"), col("mh").as("mhb"))
    val cand = PairMiner.candidates(a.join(b,
      col("source") === col("sb") && col("band") === col("bandb") &&
        col("mh") === col("mhb") && col("da") < col("db")))
    val tsets = sig.select(col("doc_id"), col("tset"))
    PairMiner.verify(cand,
        tsets.select(col("doc_id").as("da"), col("tset").as("ta")),
        tsets.select(col("doc_id").as("db"), col("tset").as("tb")))
      .filter(col("jac") >= 0.7)
      .select(col("da"), col("db"), col("jac"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> { (s, dir) =>
      // Exact dedup: content-hash groupBy (the 100 TB-scale primitive —
      // one shuffle on md5(text)).
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        .orderBy(col("lang"))
    },

    "d02_minhash_sig" -> { (s, dir) =>
      withMinhash(docsWithTokens(s, dir))
        .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
        .orderBy(col("doc_id"))
    },

    "d03_minhash_lsh_pairs" -> { (s, dir) =>
      // LSH banding (k=4, r=1): candidates share >=1 MinHash value within
      // a source partition; verified with true token-set Jaccard >= 0.7.
      // Bucket-join, never all-pairs.
      // Perf: the pair-distinct must shuffle ONLY (da, db) — carrying the
      // token arrays through that shuffle was a 20× slowdown at sf0.1.
      // Token sets re-attach afterwards via a plain equi-join on doc_id —
      // NO broadcast hint: tsets is corpus-sized (one row per document),
      // so a forced broadcast is exactly the thing that kills a
      // 1000-executor run. AQE promotes the join to broadcast when the
      // runtime stats say the side is small (it does at test SF) and
      // keeps it a shuffle join at corpus scale — the same stats-driven
      // decision the reference's planner makes from table statistics
      // (scheduler/src/planner.rs:313-350). PlanShapeSpec pins that no
      // corpus-lineage BroadcastExchange appears in the static plan.
      // The sets are int64 token hashes, not strings: long-array
      // intersection is far cheaper per pair and identical across engines
      // (same md5 hash).
      // md5 runs ONCE per token (`__th` feeds both tset and the sig), and
      // `sig` is persisted: it feeds three consumers (bands + both tset
      // re-attach joins), which would otherwise re-hash the corpus 3×.
      // The deterministic output ORDER lives here, not in
      // lshPairsFrom: every inline re-miner (d06/d16/d24/d24b/d28/d29
      // lineage) consumes the pairs order-invariantly (CC edges,
      // aggregate inputs, equi-joins), and the sort is a RangePartition
      // sampling pass + exchange each of them paid for nothing —
      // especially behind a barrier, which materializes the useless
      // ordering (round 17, guide §2.4).
      lshPairsFrom(lshSigDf(s, dir)).orderBy(col("da"), col("db"))
    },

    "d04_ngram_jaccard" -> { (s, dir) =>
      ngramJaccardOn(docsWithTokens(s, dir), ShingleDfCap)
    },

    "d05_simhash" -> { (s, dir) =>
      // 16-bit SimHash over token multiset: per-bit majority vote of
      // md5-derived token hashes.
      val ex = docsWithTokens(s, dir)
        // explode_OUTER: tok_hashes is never empty, and the non-outer
        // form makes Catalyst infer size(..) > 0 into the scan filter —
        // re-hashing the corpus below the repartition (see d17's note).
        .select(col("doc_id"), explode_outer(tokHashes(col("text"))).as("h"))
      val bitAggs = (0 until 16).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$j"))
      val grouped = ex.groupBy(col("doc_id"))
        .agg(bitAggs.head, bitAggs.tail: _*)
      val simhash = (0 until 16)
        .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      grouped.select(col("doc_id"), simhash.as("simhash16"))
        .orderBy(col("doc_id"))
    },

    "d06_dup_clusters" -> { (s, dir) =>
      // Duplicate CLUSTERING — the step a real pipeline runs after pair
      // mining: connected components over the d03 near-dup pairs, cluster
      // id = min doc_id in the component (then "keep one per cluster").
      // Delegates to operators/ConnectedComponents: min-label propagation
      // TO CONVERGENCE with pointer jumping (path halving), so rounds are
      // O(log diameter) instead of O(diameter) — the round-5 verdict's
      // large-star/small-star item. Labels stay distributed (executor-
      // local blocks, or a reliable checkpoint dir when
      // graft.cc.checkpointDir is set); only one scalar sum reaches the
      // driver per round. Same fixpoint as the DuckDB recursive-CTE
      // oracle; DedupPropSpec pins jump-vs-plain round counts on a chain.
      val pairs = barrier(lshPairsFrom(lshSigDf(s, dir))
        .select(col("da"), col("db")))
      val (lab, _) = ConnectedComponents.runPairs(pairs, "da", "db")
      lab.select(col("id").as("doc_id"), col("lbl").as("cluster"))
        .orderBy(col("doc_id"))
    },

    "d09_contamination" -> { (s, dir) =>
      // Benchmark DECONTAMINATION — distinct from within-corpus dedup:
      // find documents sharing a long n-gram prefix with a document in a
      // DIFFERENT source (train/eval leakage; exact-text cross-source
      // matches don't exist in this corpus, but eval items embedded in
      // training docs share long prefixes — the standard n-gram-overlap
      // decontamination signal). One equi-join on the prefix fingerprint
      // (md5 — uniform, unskewable shuffle key), cross-source pairs
      // only, counted per source pair. Linear in corpus size at 100 TB.
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(array_join(slice(split(col("text"), " "), 1, 30), " ")
            .cast("binary")).as("h"))
      val a = d.select(col("h"), col("doc_id").as("da"),
        col("source").as("sa"))
      val b = d.select(col("h").as("hb"), col("doc_id").as("db"),
        col("source").as("sb"))
      a.join(b, col("h") === col("hb") && col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n_leaks"),
          countDistinct(col("da")).as("n_docs_a"))
        .orderBy(col("sa"), col("sb"))
    },

    "d10_chunk_dedup" -> { (s, dir) =>
      chunkDedup(Tables.load(s, dir, "documents"))
    },

    "d12_paragraph_dedup" -> { (s, dir) =>
      paragraphDedup(Tables.load(s, dir, "documents"))
    },

    "d11_minhash_calibration" -> { (s, dir) =>
      // Estimator CALIBRATION for the MinHash dedup path — the text twin
      // of v07's ANN recall harness: for every verified near-dup pair
      // (d03), compare the banding-side similarity ESTIMATE (fraction of
      // matching MinHash values, exact quarters) against the TRUE token
      // Jaccard, reporting the absolute error per pair. How one decides
      // whether k=4 signatures are enough before trusting the banding at
      // corpus scale. Deterministic: jac is the same double both engines
      // compute, est is an exact integer ratio, and no doubles are
      // re-aggregated.
      // ONE corpus hash pass: the persisted lshSigDf feeds both the pair
      // miner AND the signature re-attach (sig(j) == d02's mh{j}) —
      // calling the d02 and d03 entries separately here used to re-md5
      // the corpus a second time.
      val sig = lshSigDf(s, dir)
      val pairs = lshPairsFrom(sig)
      val m = sig.select(col("doc_id") +:
        (0 until 4).map(j => col("sig").getItem(j).as(s"mh$j")): _*)
      val a = m.select(col("doc_id").as("ma"), col("mh0").as("a0"),
        col("mh1").as("a1"), col("mh2").as("a2"), col("mh3").as("a3"))
      val b = m.select(col("doc_id").as("mb"), col("mh0").as("b0"),
        col("mh1").as("b1"), col("mh2").as("b2"), col("mh3").as("b3"))
      val matches = (0 until 4).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
      pairs.join(a, col("da") === col("ma"))
        .join(b, col("db") === col("mb"))
        .withColumn("est_sim", matches.cast("double") / 4.0)
        .select(col("da"), col("db"), col("jac"), col("est_sim"),
          abs(col("jac") - col("est_sim")).as("abs_err"))
        .orderBy(col("da"), col("db"))
    },

    "d08_stratified_sample" -> { (s, dir) =>
      // Deterministic stratified sampling — how a 100 TB pipeline samples
      // training data reproducibly: per stratum (lang), keep the k docs
      // with smallest content hash. No RNG (rand() would flake the
      // differential gate AND resampling on retry), cross-engine
      // identical (md5), and the per-stratum top-k compiles to
      // WindowGroupLimit — only k rows per stratum cross the exchange.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), md5(col("text").cast("binary")).as("h"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("lang"), col("rnk"), col("doc_id"), col("h"))
        .orderBy(col("lang"), col("rnk"))
    },

    "d07_keep_best" -> { (s, dir) =>
      // Canonical-document selection — the step after clustering in a real
      // dedup pipeline: the FULL corpus reduced to one representative per
      // duplicate cluster (singletons keep themselves). "Best" = most
      // tokens, tie-break min doc_id: an integer rule, so the ranking is
      // exactly reproducible across engines (a double quality score could
      // tie-break differently in the last ulp). One left join against the
      // MATERIALIZED cluster labels (the ensureClusterIndex artifact —
      // at 100 TB the CC fixpoint runs once per corpus version, not per
      // consumer) + one WindowGroupLimit-able rank per cluster —
      // nothing here outgrows its shuffle partition at corpus scale.
      val clusters = clusterLabels(s, dir)
        .select(col("doc_id").as("cid"), col("cluster"))
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      val labeled = docs
        .join(clusters, col("doc_id") === col("cid"), "left_outer")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_toks").desc, col("doc_id"))
      // n_members over the SAME ordered spec with a full frame — same
      // partitioning + ordering as rnk, so both compute in ONE Window
      // operator (an unordered count spec would add a second Window pass
      // and its own sort).
      val wFull = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      labeled
        .withColumn("rnk", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(wFull))
        .filter(col("rnk") === 1)
        .select(col("cluster"), col("doc_id").as("kept_doc"),
          col("n_toks"), col("n_members"))
        .orderBy(col("cluster"))
    },

    "d13_mix_quota" -> { (s, dir) =>
      // Data-MIXTURE construction under a per-source token budget — how
      // a pretraining run draws "X tokens of web, Y of code" from a far
      // larger pool, reproducibly: per source, docs are ranked by
      // content hash (no RNG — retries and engines agree), a running
      // token total accumulates in hash order, and a doc is kept while
      // the budget is not yet exhausted BEFORE it (so the quota is
      // slightly overshot by at most one doc, never undershot — the
      // greedy prefix rule).
      //
      // Scale design: a single window PARTITION BY source would put one
      // source's ENTIRE corpus slice into one sequential window
      // partition — the per-source prefix sum is the scale-killer, not
      // the semantics. So the prefix is computed at two grains, exactly
      // the ParallelWindow cut-table trick (operators/ParallelWindow
      // .scala): docs bucket by the first hash byte (256 buckets per
      // source, order-compatible with the (h, doc_id) ranking since the
      // bucket IS a prefix of h); bucket token totals cumulate in a
      // BOUNDED window (≤256 rows per source); each doc then only needs
      // the within-BUCKET running sum — a window over 1/256 of the
      // source, parallel across 256·|sources| partitions. cum_before =
      // bucket prefix + in-bucket prefix, identical to the one-window
      // answer (the DuckDB oracle IS the one-window form). Deeper
      // prefixes (2 bytes → 65 536 buckets) scale the same trick.
      val quota = 40000L // tokens per source
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val wBucketCut = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("bucket"))
        .rowsBetween(Long.MinValue, -1)
      val cuts = base.groupBy(col("source"), col("bucket"))
        .agg(sum(col("n_toks")).as("bucket_toks"))
        .withColumn("cum_bucket_before",
          coalesce(sum(col("bucket_toks")).over(wBucketCut), lit(0L)))
        .select(col("source"), col("bucket"), col("cum_bucket_before"))
      val wInBucket = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("bucket"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Long.MinValue, -1)
      base
        .withColumn("cum_in_bucket",
          coalesce(sum(col("n_toks")).over(wInBucket), lit(0L)))
        .join(cuts, Seq("source", "bucket"))
        .withColumn("cum_before",
          col("cum_bucket_before") + col("cum_in_bucket"))
        .withColumn("keep", (col("cum_before") < quota).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pool"),
          sum(col("keep")).as("n_kept"),
          sum(col("keep") * col("n_toks")).as("tokens_kept"),
          sum(col("n_toks")).as("tokens_pool"))
        .orderBy(col("source"))
    },

    "d16_signal_compare" -> { (s, dir) =>
      // Multi-SIGNAL dedup QA — before trusting one miner at corpus
      // scale, score every verified near-dup pair with all three
      // similarity families side by side: token-set Jaccard (the d03
      // verification), 3-gram shingle Jaccard (d04's signal), and
      // 16-bit SimHash hamming distance (d05's). Disagreements (high
      // token Jaccard, high hamming) are exactly the pairs a threshold
      // migration would misclassify. One chain: the d03 pairs re-attach
      // per-doc shingle sets and codegen'd row-wise SimHash by equi-join
      // on doc_id (row-linear; the pair table is already mined and
      // bounded). All outputs exact ints or single-division ratios.
      val pairs = lshPairsFrom(lshSigDf(s, dir))
      val docs = docsWithTokens(s, dir)
      val sigs = docs.select(col("doc_id"),
        array_distinct(call_function("shingle_hashes", col("text"), lit(3)))
          .as("shs"),
        simhashExpr(col("text")).as("sh16"))
      val a = sigs.select(col("doc_id").as("da"), col("shs").as("ta"),
        col("sh16").as("ha"))
      val b = sigs.select(col("doc_id").as("db"), col("shs").as("tb"),
        col("sh16").as("hb"))
      PairMiner.verify(pairs, a, b, jac = "sh_jac")
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .select(col("da"), col("db"), col("jac"), col("sh_jac"),
          col("hamming"))
        .orderBy(col("da"), col("db"))
    },

    "d15_banding_sweep" -> { (s, dir) =>
      // BANDING-PARAMETER sweep — the text-side analogue of v07's ANN
      // recall harness: with k=4 MinHash values, compare the three
      // (bands b × rows r) configs b4r1 / b2r2 / b1r4 on candidate
      // volume, verified-pair yield (true Jaccard ≥ 0.7), precision,
      // and recall vs the most sensitive config (b4r1 — candidate sets
      // nest: r=4 ⊆ r=2 ⊆ r=1, so its verified set is the reference).
      // How one picks the S-curve operating point BEFORE paying for a
      // corpus-scale run. Every leg is the scale-correct equality join
      // on (band, key) — r>1 keys are concatenated values, never an
      // OR-join (which would nested-loop) — and the final report is
      // three rows of exact integers plus two single divisions.
      val sig = lshSigDf(s, dir)
      val tsets = sig.select(col("doc_id"), col("tset"))
      def leg(r: Int): DataFrame = {
        val b = 4 / r
        val bands = (0 until b).map { j =>
          struct(lit(j).as("band"),
            concat_ws(":",
              (0 until r).map(i => col("sig").getItem(j * r + i)): _*)
              .as("bkey"))
        }
        val k = sig.withColumn("__bb", explode(array(bands: _*)))
          .select(col("doc_id"), col("source"),
            col("__bb.band").as("band"), col("__bb.bkey").as("bkey"))
        val a = k.select(col("doc_id").as("da"), col("source"),
          col("band"), col("bkey"))
        val bb = k.select(col("doc_id").as("db"), col("source").as("sb"),
          col("band").as("bandb"), col("bkey").as("bkeyb"))
        val cand = PairMiner.candidates(a.join(bb,
          col("source") === col("sb") && col("band") === col("bandb") &&
            col("bkey") === col("bkeyb") && col("da") < col("db")))
        PairMiner.verify(cand,
            tsets.select(col("doc_id").as("da"), col("tset").as("ta")),
            tsets.select(col("doc_id").as("db"), col("tset").as("tb")))
          .agg(count(lit(1)).as("n_cand"),
            sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_true"))
          .select(lit(s"b${b}r$r").as("config"),
            lit(b.toLong).as("n_bands"), lit(r.toLong).as("n_rows"),
            col("n_cand"), col("n_true"))
      }
      val legs = leg(1).unionByName(leg(2)).unionByName(leg(4))
      val ref = leg(1).select(col("n_true").as("ref_true"))
      legs.crossJoin(ref)
        .select(col("config"), col("n_bands"), col("n_rows"),
          col("n_cand"), col("n_true"),
          (col("n_true").cast("double") / col("n_cand")).as("precision"),
          (col("n_true").cast("double") / col("ref_true")).as("recall"))
        .orderBy(col("config"))
    },

    "d17_cdc_dedup" -> { (s, dir) =>
      // CONTENT-DEFINED chunking dedup (the storage-dedup standard —
      // gear/Rabin-style breakpoints, simplest form): a chunk boundary
      // falls AFTER every token whose hash ≡ 0 (mod 16), so boundaries
      // are decided by content, not position (mean chunk ~16 tokens).
      // Where d10's FIXED 50-token grid mis-aligns after a single
      // inserted token (every later chunk hash changes), CDC
      // re-synchronizes at the next boundary — the property that makes
      // chunk-level dedup robust to edits at 100 TB (DedupPropSpec pins
      // it). Chunking is one codegen'd projection (boundary positions →
      // start/end pairs via zip_with — no per-token explode); then the
      // d10 shape: ONE shuffle on the uniform md5 chunk hash for
      // canonical arg-min selection + a per-doc count. Only the final
      // chunk can be empty (a boundary on the last token), so dropping
      // nulls never shifts the surviving chunk indices.
      // Repartition first: the boundary rule hashes EVERY token (unlike
      // d10's one-hash-per-50-token grid), and the test-SF documents
      // parquet is a single row group — without the spread, one task
      // does the whole corpus's md5 work (the docsWithTokens note; this
      // was a 10× bench regression when first landed).
      cdcDedup(Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism))
    },

    "d19_prefix_filter_pairs" -> { (s, dir) =>
      prefixFilterPairsOn(docsWithTokens(s, dir))
    },

    "d18_incremental_dedup" -> { (s, dir) =>
      // INCREMENTAL ingest dedup — the shape a production pipeline runs
      // daily: dedupe a NEW batch against the standing corpus without
      // re-mining corpus×corpus pairs. Work is ∝ |batch| × collision
      // rate: the batch's exact hashes and MinHash bands join against
      // the corpus-side index (in production a pre-materialized band
      // table; recomputed inline here per the self-contained-query
      // contract), never corpus×corpus. Batch membership is
      // deterministic (doc_id mod 7) so the gate is reproducible.
      // Per new doc: exact-duplicate flag (content hash seen in corpus),
      // LSH candidate count, verified near-dup count (J ≥ 0.7), and the
      // best matching corpus doc — cross-SOURCE matches included (ingest
      // dedup guards the whole corpus, unlike d03's within-source scope).
      val isNew = col("doc_id") % 7 === 0
      val sig = lshSigDf(s, dir)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
      val batchH = docs.filter(isNew)
      val corpusH = docs.filter(!isNew)
        .select(col("ch").as("cch")).distinct()
      val exact = batchH.join(corpusH, col("ch") === col("cch"),
          "left_outer")
        .select(col("doc_id"),
          when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"))
      val bands = sig.select(col("doc_id"),
        // outer for consistency with the d17 inferred-filter fix: sig is
        // a fixed-size array so the forms are row-identical, and the
        // non-outer variant would silently rely on lshSigDf's persist to
        // avoid re-evaluating the signature pass inside the scan filter.
        posexplode_outer(col("sig")).as(Seq("band", "mh")))
      val bb = bands.filter(isNew)
        .select(col("doc_id").as("da"), col("band"), col("mh"))
      // Corpus-side bucket cap (BandCap note at lshPairsFrom).
      val cb = capBuckets(bands.filter(!isNew)
        .select(col("doc_id").as("db"), col("band").as("bandb"),
          col("mh").as("mhb")), Seq("bandb", "mhb"))
      val cand = PairMiner.candidates(bb.join(cb,
        col("band") === col("bandb") && col("mh") === col("mhb")))
      val tsets = sig.select(col("doc_id"), col("tset"))
      batchDocReport(exact, PairMiner.verify(cand,
        tsets.select(col("doc_id").as("da"), col("tset").as("ta")),
        tsets.select(col("doc_id").as("db"), col("tset").as("tb"))))
    },

    "d20_normalized_dedup" -> { (s, dir) =>
      // NORMALIZED-exact dedup — the "exact after normalization" pass
      // (lowercase, strip punctuation, collapse whitespace) that
      // standard pipelines run between byte-exact d01 and fuzzy d03:
      // it catches trivially-reformatted copies at exact-dedup cost.
      // Per source, compare the three dedup rates side by side —
      // raw-exact unique, normalized-exact unique, and how many raw
      // variants the normalization merged (raw − norm) — the report
      // that says whether the cheap pass is worth a corpus run.
      // One codegen'd projection (lower + 2 regexp_replace + md5), a
      // pre-aggregate on (source, rh, nh), then ONE single-distinct
      // groupBy(source): linear, uniform keys, no skew at any corpus
      // size. rh = md5(text) functionally determines nh (same text ⇒
      // same normalization), so distinct rh per source = the (rh, nh)
      // group count — which keeps the final aggregate to ONE
      // countDistinct. (Two countDistincts in one agg trigger Spark's
      // RewriteDistinctAggregates Expand, whose distinct-group → gid
      // assignment is hash-order nondeterministic across JVMs — it
      // flipped this query's plan golden run-to-run.)
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " "))
      Tables.load(s, dir, "documents")
        .select(col("source"),
          md5(col("text").cast("binary")).as("rh"),
          md5(norm.cast("binary")).as("nh"))
        .groupBy(col("source"), col("rh"), col("nh"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_docs"),
          count(lit(1)).as("n_raw_unique"),
          countDistinct(col("nh")).as("n_norm_unique"))
        .withColumn("n_merged_by_norm",
          col("n_raw_unique") - col("n_norm_unique"))
        .orderBy(col("source"))
    },

    "d21_indexed_ingest" -> { (s, dir) =>
      // d18's PRODUCTION shape (round-6 verdict item 2): the corpus-side
      // dedup index (content hashes + band table + token sets) comes
      // from the pre-materialized parquet artifact [[ensureIngestIndex]]
      // maintains; this query hashes ONLY the batch (doc_id % 7 = 0) and
      // probes the index. Same report as d18 — exact-dup flag, LSH
      // candidate count, verified near-dup count, best match — but the
      // plan contains no corpus re-hash: the corpus side is three
      // column-pruned parquet scans, so daily cost is ∝ |batch| ×
      // collision rate at any corpus size.
      // The band probe is CAPPED BY A PUSHED PARQUET FILTER on the
      // artifact's build-time pop column (round-13): the plan carries
      // no corpus-side aggregate of any kind — three column-pruned
      // index FileScans, batch-side hashing, probe joins.
      val idx = ensureIngestIndex(s, dir)
      ingestProbeReport(s, dir,
        s.read.parquet(s"$idx/hashes"),
        cappedIndexBands(s, Seq(idx)),
        s.read.parquet(s"$idx/tsets").toDF("db", "tb"))
    },

    "d23_index_delta_append" -> { (s, dir) =>
      // INCREMENTAL index MAINTENANCE — the production answer to d21's
      // one caveat (a changed corpus fingerprint rebuilds the whole
      // index): the standing index is a BASE segment (the old corpus,
      // doc_id % 7 ∉ {0, 3}) plus a DELTA segment (yesterday's ingest,
      // doc_id % 7 = 3) written as its own artifact — the append
      // hashed only the delta's documents, the base was not touched,
      // let alone re-hashed. Today's batch (doc_id % 7 = 0) probes the
      // UNION of the segment scans; semantics are EXACTLY d21's (base
      // ∪ delta = the full standing corpus), which is why the oracle
      // is d18/d21's SQL verbatim and DedupPropSpec pins this output
      // row-identical to d21's single-segment probe, and pins that a
      // compaction (fold base+delta into one segment) changes nothing.
      // ≙ the reference's incremental stage materialization
      // (core/src/execution_plans/shuffle_reader.rs:100 — consumers
      // union previously-materialized partition files). At 100 TB the
      // union costs one extra column-pruned FileScan per segment and
      // the probe joins stay hash joins on (band, mh) / cch — a
      // segment count in the tens is noise next to the batch hash.
      val base = ensureIngestIndexWhere(s, dir, "base",
        col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)
      val delta = ensureIngestIndexWhere(s, dir, "delta",
        col("doc_id") % 7 === 3)
      def seg(part: String, cols: Seq[String]): DataFrame =
        s.read.parquet(s"$base/$part").toDF(cols: _*)
          .unionByName(s.read.parquet(s"$delta/$part").toDF(cols: _*))
      // Band cap = the exact base∪delta union population, applied by
      // folding the two segments' build-time bucket-count tables
      // (round-13): counts were maintained additively at append (the
      // delta build wrote only its own pops), the fold aggregates
      // bucket counts — never corpus band rows.
      ingestProbeReport(s, dir,
        seg("hashes", Seq("cch")),
        cappedIndexBands(s, Seq(base, delta)),
        seg("tsets", Seq("db", "tb")))
    },

    "d43_index_compaction" -> { (s, dir) =>
      // SEGMENT COMPACTION — the maintenance step d23's design comment
      // promises ("fold base+delta into one segment and nothing
      // changes"), now an actual operation: [[compactIndexSegments]]
      // rewrites the base+delta artifacts into ONE segment as a pure
      // artifact-to-artifact fold (unions + an additive pops fold —
      // `documents` is never read, nothing is re-hashed), and today's
      // batch probes the compacted index. Semantics are EXACTLY
      // d21/d23's (compacted = base ∪ delta = the standing corpus), so
      // the oracle is d18's SQL verbatim and DedupPropSpec pins all
      // three reports row-identical; what compaction BUYS is plan
      // shape: the probe drops from k band FileScans + a k-way pops
      // fold back to d21's single scan with the pushed pop<=cap
      // filter (PlanShapeSpec's no-corpus-aggregate pin covers this
      // query too). At 100 TB this is the daily-append lifecycle
      // closed: appends stay O(delta), probes stay O(batch), and the
      // periodic compaction that keeps segment count bounded costs
      // O(index rows) — never O(corpus text).
      val base = ensureIngestIndexWhere(s, dir, "base",
        col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)
      val delta = ensureIngestIndexWhere(s, dir, "delta",
        col("doc_id") % 7 === 3)
      val cmp = compactIndexSegments(s, dir, "cmp", Seq(base, delta))
      ingestProbeReport(s, dir,
        s.read.parquet(s"$cmp/hashes"),
        cappedIndexBands(s, Seq(cmp)),
        s.read.parquet(s"$cmp/tsets").toDF("db", "tb"))
    },

    "d24_training_pipeline" -> { (s, dir) =>
      // END-TO-END pipeline composite — the 100 TB user's actual job,
      // chained as ONE plan: t07 quality filter → d01 exact dedup
      // (min-doc_id canonical per content hash) → d03 near-dup mining
      // over the SURVIVORS → d06/d07 cluster + keep-best → d13
      // per-source token quota → d14 epoch shard → t17 packing
      // manifest. Graded output = the packing manifest of the final
      // mixture (+ shards touched per sequence). The per-component
      // semantics are the graded components' own (one definition each:
      // keepPredicate, lshPairsFrom, ConnectedComponents, the two-grain
      // prefix); what this entry adds is the CROSS-component plan
      // hygiene — `filt`/`uniq`/`sig` each persist once and fan out,
      // so the corpus is scanned once and token-hashed once, and the
      // quality predicate pushes into that one scan (docs drop BEFORE
      // the repartition shuffle — the cheap split+count predicate is
      // parallel across scan tasks at any SF, unlike the md5 fan-out
      // the repartition exists for). The golden pins the pushed
      // predicate and that every stage reads the caches.
      packingManifest(pipelineKeptBest(s, dir)
        .select(col("doc_id"), col("source"), col("n_toks"), col("h")))
    },

    "d24b_pipeline_spans" -> { (s, dir) =>
      // d24 WITH TOKEN-GRAIN SPAN REMOVAL — the real corpus pipeline
      // runs d26's duplicated-span dedup between doc-grain dedup and
      // quota mixing (Lee et al. 2021 remove repeated spans, not just
      // repeated documents): after cluster keep-best, every kept doc's
      // K=8-window fingerprints are mined over the KEPT corpus and the
      // doc's token mass entering the d13 quota (and the t17 packing
      // prefix) shrinks by its merged duplicated-span length — a doc
      // that is 90% boilerplate contributes 10% of its tokens to the
      // mixture budget. Same stages as d24 (shared `packingManifest`
      // tail — the composites differ ONLY in token mass); the span
      // pass reads the persisted `uniq` cache (one corpus scan still),
      // and its md5-per-window explode is the heaviest operator the
      // pipeline gains — exactly the cross-stage cost this entry
      // exists to surface. dup_toks ≤ n_toks by construction, so the
      // cleaned mass is never negative (fully-duplicated docs enter
      // the quota at 0 tokens).
      val kept = pipelineKeptBest(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          col("n_toks"), col("h"))
        // kept feeds the span miner AND the cleaned join-back — without
        // the persist the labels join + keep-best window re-run once per
        // consumer.
        .persist(StorageLevel.MEMORY_AND_DISK)
      val spans = dupSpansPerDoc(
        kept.select(col("doc_id"), col("source"),
          split(col("text"), " ").as("toks")), DupSpanK)
      val cleaned = kept
        .join(spans.select(col("doc_id").as("sd"), col("dup_toks")),
          col("doc_id") === col("sd"), "left_outer")
        .select(col("doc_id"), col("source"),
          (col("n_toks") - coalesce(col("dup_toks"), lit(0L)))
            .as("n_toks"),
          col("h"))
      packingManifest(cleaned)
    },

    "d22_ppjoin_filter_audit" -> { (s, dir) =>
      // PPJoin FILTER AUDIT — the d15-style companion report for d19:
      // per source, the candidate-pair volume under prefix collisions
      // alone, + the length filter, + the positional filter, next to
      // the verified-pair count under each. The last two verified
      // columns are EQUAL BY THEOREM (both filters are upper-bound
      // sound for J ≥ 0.7) — the report makes the recall invariant a
      // graded, data-visible fact while quantifying how much join
      // volume each filter removes before the shuffle. One collision
      // join (the prefix-only superset), per-pair flags folded by MAX,
      // one verification pass over the base candidate set.
      val (base, pref) = prefixTables(docsWithTokens(s, dir))
      val a = pref.select(col("doc_id").as("da"), col("source"),
        col("sz").as("sza"), col("pos").as("pa"), col("h"))
      val b = pref.select(col("doc_id").as("db"), col("source").as("sb"),
        col("sz").as("szb"), col("pos").as("pb"), col("h").as("hb"))
      val lenOk = col("sza") * 7 <= col("szb") * 10 &&
        col("szb") * 7 <= col("sza") * 10
      val obound = least(col("pa"), col("pb")) + lit(1) +
        least(col("sza") - col("pa") - 1, col("szb") - col("pb") - 1)
      val posOk = lenOk && obound * 17 >= (col("sza") + col("szb")) * 7
      val pairs = PairMiner.spreadByKeys(
        a.join(b, col("source") === col("sb") &&
            col("h") === col("hb") && col("da") < col("db"))
          .select(col("source"), col("da"), col("db"),
            when(lenOk, 1L).otherwise(0L).as("len_ok"),
            when(posOk, 1L).otherwise(0L).as("pos_ok")),
        Seq("source", "da", "db"))
        .groupBy(col("source"), col("da"), col("db"))
        .agg(max(col("len_ok")).as("len_ok"),
          max(col("pos_ok")).as("pos_ok"))
      val tsets = base.select(col("doc_id"), col("tset"))
      PairMiner.verify(pairs,
          tsets.select(col("doc_id").as("da"), col("tset").as("ta")),
          tsets.select(col("doc_id").as("db"), col("tset").as("tb")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_cand_prefix"),
          sum(col("len_ok")).as("n_cand_len"),
          sum(col("pos_ok")).as("n_cand_lenpos"),
          sum(when(col("jac") >= 0.7, 1L).otherwise(0L))
            .as("n_verified"),
          sum(when(col("jac") >= 0.7 && col("pos_ok") === 1L, 1L)
            .otherwise(0L)).as("n_verified_lenpos"))
        .orderBy(col("source"))
    },

    "d14_epoch_shards" -> { (s, dir) =>
      // Deterministic EPOCH SHUFFLE — how a training run re-orders a
      // 100 TB corpus per epoch without ever materializing a global
      // random permutation: shard = hash(doc_id ‖ epoch-seed) mod S.
      // Changing the seed re-deals every doc to a new shard (a fresh
      // pseudo-random order), while the same seed reproduces the epoch
      // bit-for-bit on retry — the determinism RNG-based shuffles lose.
      // The graded output is the per-shard balance report (doc/token
      // counts per shard — what one checks before trusting S readers to
      // get equal work); the write-side twin is a partitionBy(shard)
      // sink. One codegen'd projection + a bounded (S-key) groupBy with
      // map-side partials: a single linear pass at any corpus size.
      val seed = "ep1"
      val h = conv(substring(md5(
        concat(col("doc_id").cast("string"), lit(":" + seed))
          .cast("binary")), 1, 15), 16, 10).cast("long")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          (h % 32).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    },

    "d25_cluster_safe_split" -> { (s, dir) =>
      // SPLIT-SAFETY audit — train/val assignment that respects duplicate
      // clusters. A near-dup pair straddling the split boundary leaks
      // training text into evaluation (the cross-SPLIT twin of d09's
      // cross-source contamination). The naive per-document hash split
      // scatters nearly every multi-doc cluster across both sides; keying
      // the SAME md5 split rule by the cluster id instead keeps members
      // together by construction. Both policies are hash-derived — no
      // RNG, so the assignment reproduces bit-for-bit across engines and
      // retries — and the graded report is the per-policy doc/token
      // balance plus the two leakage counters a pipeline asserts on
      // before a training run (the cluster policy's are provably zero).
      // Cost on top of the shared d03 mining pass + CC labels: doc-grain
      // linear passes and one pair-grain join — nothing quadratic, and
      // the split hash is uniform, so neither side of the 90/10 cut can
      // skew a partition at 100 TB. Both cluster-grain inputs — the
      // converged labels AND the mined pairs — come off the
      // MATERIALIZED ensureClusterIndex artifact (round-12: the same
      // probe discipline as d07/d36/d37; re-mining d03 + re-running the
      // CC fixpoint per audit was a top-7 suite cost and is exactly the
      // per-consumer fixpoint a 100 TB pipeline cannot afford).
      val pairs = clusterPairs(s, dir)
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      splitSafetyReportFrom(docs, pairs, clusterLabels(s, dir)
        .select(col("doc_id").as("cid"), col("cluster")))
    },

    "d26_dup_span_removal" -> { (s, dir) =>
      // EXACT duplicated-SPAN removal — token-grain substring dedup in
      // the spirit of suffix-array dedup (Lee et al. 2021, "Deduplicating
      // Training Data Makes Language Models Better"): every K-token
      // window whose exact token sequence occurs >= 2 times ANYWHERE in
      // the corpus marks its K tokens as duplicated, and overlapping or
      // adjacent marks merge into maximal spans (the gaps-and-islands
      // consolidation p15 runs on time intervals, here on token
      // positions). Distinct from d10/d12 (fixed chunk grid — a copy
      // shifted by one token defeats it) and d17 (CDC — chunk-grain):
      // this finds EVERY repeated run of >= K tokens at any offset, to
      // the token. The distributed shape is suffix-array-free: one
      // groupBy on the (uniform, md5) window fingerprint with map-side
      // partials finds repeated windows — no pair join, no global
      // suffix sort — then one per-doc window pass merges positions
      // into spans. Linear in corpus token count at 100 TB; a window
      // repeated f times costs f aggregate rows, never f² (the hot-span
      // skew an all-pairs design would hit dies in the partial agg).
      dupSpanReport(docsWithTokens(s, dir), DupSpanK)
    },

    "d27_bloom_ingest" -> { (s, dir) =>
      // BLOOM-FILTER ingest pre-filter — the cheap gate in front of
      // d18/d21's exact probe: the standing corpus's content hashes
      // fold into a k=3, m=4096 Bloom bitset, and each batch doc pays
      // three O(1) bit probes before any index join. A batch doc whose
      // three bits are all set is a CANDIDATE (possible duplicate —
      // false positives expected at this m); a doc with any bit clear
      // is PROVABLY fresh and skips the exact join entirely. The graded
      // row carries both the bloom verdict and the exact-join truth, so
      // the false-positive rate (bloom_pass=1, exact_dup=0) is a
      // data-visible fact — the audit that sizes m in production.
      // Scale: the bitset is represented as the DISTINCT set-bit table
      // (≤ m rows — broadcast, never corpus-sized); corpus-side work is
      // one linear hash projection + a bounded distinct; batch-side
      // work is 3 broadcast probes + the exact hash join d18 already
      // pays. At 100 TB the bitset build is the only full-corpus pass
      // and is a pure map + 4096-key aggregate. Bit positions derive
      // from md5(ch # j) — both engines recompute them bit-identically.
      val mBits = 4096
      val isNew = col("doc_id") % 7 === 0
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
      def bit(j: Int): org.apache.spark.sql.Column =
        conv(substring(md5(concat(col("ch"), lit(s"#$j"))
          .cast("binary")), 1, 8), 16, 10).cast("long") % mBits
      val bits = docs.filter(!isNew)
        .select(explode(array(bit(0), bit(1), bit(2))).as("sb"))
        .distinct()
      val corpusH = docs.filter(!isNew)
        .select(col("ch").as("cch")).distinct()
      val batch = docs.filter(isNew)
        .withColumn("b0", bit(0)).withColumn("b1", bit(1))
        .withColumn("b2", bit(2))
      val probed = Seq("b0", "b1", "b2").foldLeft(batch) { (df, c) =>
        df.join(broadcast(bits.select(col("sb").as(s"hit_$c"))),
          col(c) === col(s"hit_$c"), "left_outer")
      }
      probed
        .join(corpusH, col("ch") === col("cch"), "left_outer")
        .select(col("doc_id"),
          when(col("hit_b0").isNotNull && col("hit_b1").isNotNull &&
            col("hit_b2").isNotNull, 1L).otherwise(0L).as("bloom_pass"),
          when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"))
        .orderBy(col("doc_id"))
    },

    "d28_pagerank_authority" -> { (s, dir) =>
      // AUTHORITY scoring on the near-dup graph — iterative numeric
      // graph computation beyond d06's reachability: 3 rounds of
      // INTEGER PageRank over the d03 pair graph, plus a local-peak
      // flag (rank above every neighbor, doc_id tie-break) — the
      // graph-centrality alternative to d07's length-based canonical
      // pick (a doc near-duplicating MANY others is the natural cluster
      // representative; peaks ≈ one canonical per dense region without
      // running CC at all). Exact arithmetic: ranks start at 10^6,
      // each round r'(v) = 150000 + (85·Σ_{u~v}(r(u) div deg(u)))
      // div 100 — integer floor division twice, so both engines compute
      // identical int64 ranks at any iteration count (damping 0.85
      // cleared to /100; the symmetric graph has no dangling nodes —
      // every node in the edge set has deg ≥ 1 and inflow ≥ 1).
      // Scale: classic distributed PR — each round is one equi-join of
      // the edge list with the rank table (both partitioned on the
      // join key) + one groupBy(dst) with map-side partial sums; the
      // edge list materializes ONCE behind the same barrier d06 uses,
      // so the miner doesn't re-run per round; 3 bounded rounds, state
      // is one (node, rank) row per doc. The peak flag is one more
      // edge-join + struct-max groupBy.
      val pairs = barrier(lshPairsFrom(lshSigDf(s, dir))
        .select(col("da"), col("db")))
      // Pre-partitioned on the per-round join key + barriered (the
      // round-16 ConnectedComponents.run rule): each PR round joins
      // edges on src — an un-partitioned edge list would re-shuffle
      // rounds × |edges| bytes; now it crosses the wire once, and the
      // deg aggregate + its per-round join reuse the same partitioning.
      val edges = barrier(pairs
        .unionByName(pairs.select(col("db").as("da"), col("da").as("db")))
        .toDF("src", "dst")
        .repartition(col("src")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val r0 = deg.select(col("src").as("id"), lit(1000000L).as("r"))
      val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
        edges
          .join(r, col("src") === col("id"))
          .join(deg, "src")
          .select(col("dst"), expr("r div d").as("c"))
          .groupBy(col("dst"))
          .agg((lit(150000L) +
            expr("(85 * sum(c)) div 100")).as("r"))
          .select(col("dst").as("id"), col("r"))
      }
      // Local peak: my (rank, -id) beats every neighbor's.
      val nbr = edges
        .join(r3.select(col("id").as("dst"), col("r").as("nr"),
          (-col("id")).as("nni")), "dst")
        .groupBy(col("src"))
        .agg(max(struct(col("nr"), col("nni"))).as("best_nbr"))
      r3.join(deg, col("id") === col("src")).drop("src")
        .join(nbr, col("id") === col("src")).drop("src")
        .select(col("id").as("doc_id"), col("d").as("degree"),
          col("r").as("pr"),
          when(struct(col("r").as("nr"), (-col("id")).as("nni")) >
            col("best_nbr"), 1L).otherwise(0L).as("is_peak"))
        .orderBy(col("doc_id"))
    },

    "d29_triangle_cc" -> { (s, dir) =>
      // TRIANGLE COUNT + local clustering coefficient on the near-dup
      // graph — the graph-structure audit d28's PageRank doesn't see:
      // a doc whose neighbors all near-duplicate EACH OTHER (cc → 1)
      // sits inside one dense template family (safe to keep one of),
      // while a high-degree doc with cc → 0 bridges unrelated families
      // (boilerplate shared across sources — the doc to inspect, not
      // blindly drop). Triangles enumerate ONCE each via DEGREE-ORDERED
      // orientation (the compact-forward discipline): every edge points
      // from its (degree, id)-smaller endpoint to the larger, wedges
      // open at the ≺-SMALLEST vertex of each triangle (two out-edges
      // from one source), and one closing equi-join checks the third
      // directed edge. Out-degrees under this orientation are
      // arboricity-bounded for ANY degree distribution — a degree-D
      // star contributes ZERO wedges (its center is ≺-largest, so all
      // its edges point IN), where id-order would fan out C(D,2);
      // `DedupPropSpec` pins both that bound and equality with brute
      // force on adversarial star+clique graphs. The coefficient is
      // exact integer basis points:
      // cc_bp = (2·t·10⁴) div (deg·(deg−1)), 0 when deg < 2.
      val pairs = barrier(lshPairsFrom(lshSigDf(s, dir))
        .select(col("da"), col("db")))
      triangleStats(pairs)
    },

    "d29b_triangle_sampled" -> { (s, dir) =>
      // DOULION-style SAMPLED triangle estimate (Tsourakakis et al.,
      // KDD 2009) — d29's scale escape, graded as a companion while
      // the exact leg stays the audit: on a clique-union near-dup
      // corpus ~99.8% of wedges close, so d29's wedge volume is
      // INHERENT output (sf10 measured 5.9× for 10× data) — the
      // standard industrial answer is edge sparsification. Keep each
      // edge iff a DETERMINISTIC hash elects it (md5 fixed point, the
      // d14 shard arithmetic — both engines recompute the same coin,
      // so the estimate is hash-exact, not a seeded RNG), p = 1/4:
      // wedge volume drops p² = 16×, each surviving triangle is
      // counted with weight 1/p³ = 64 (unbiased — a triangle survives
      // iff its 3 independent edge-coins all land). Graded at the
      // log2-degree-bucket grain (length(bin(degree)) — integer-exact
      // in both engines): per bucket the FULL-graph vertex count,
      // degree mass and exact wedge count, the sampled triangle mass,
      // its ×64 estimate, and the estimated bucket clustering
      // coefficient in basis points — the report a curation pipeline
      // reads ("are high-degree docs template families or bridges?")
      // without ever paying the full wedge volume. Scale: the edges
      // come OFF THE MATERIALIZED PAIR ARTIFACT (the d25/d07
      // discipline — mining is a pipeline STAGE run once per corpus
      // version, and graph reports are its consumers; d29 stays the
      // self-contained re-mining audit), so the whole plan is an
      // artifact scan + one codegen'd coin filter + the p-thinned
      // triangle core (same degree-ordered orientation + hash-built
      // closing join as d29) + a full-graph degree aggregate over the
      // same artifact. The round-15 sf10 leg measured the re-mining
      // form at 5.9× for 10× data — entirely the shared mining floor;
      // the artifact-probing form rides the d25 probe curve instead.
      val pairs = clusterPairs(s, dir)
      val kept = pairs.filter(
        conv(substring(md5(concat(col("da").cast("string"), lit(":"),
          col("db").cast("string"), lit(":ts1")).cast("binary")),
          1, 15), 16, 10).cast("long") % 4 === 0)
      val sampled = triangleStats(kept)
        .select(col("doc_id"), col("triangles"))
      val sym = pairs.unionByName(
        pairs.select(col("db").as("da"), col("da").as("db")))
      val deg = sym.groupBy(col("da")).agg(count(lit(1)).as("degree"))
        .select(col("da").as("doc_id"), col("degree"))
      deg.join(sampled, Seq("doc_id"), "left_outer")
        .withColumn("t3", coalesce(col("triangles"), lit(0L)))
        .groupBy(length(bin(col("degree"))).cast("long").as("deg_bucket"))
        .agg(count(lit(1)).as("n_vertices"),
          sum(col("degree")).as("sum_degree"),
          sum(expr("degree * (degree - 1) div 2")).as("wedges"),
          sum(col("t3")).as("t3_sampled"))
        .withColumn("t3_est", col("t3_sampled") * 64)
        .withColumn("cc_bp_est",
          when(col("wedges") > 0,
            expr("(t3_est * 10000) div wedges")).otherwise(0L))
        .orderBy(col("deg_bucket"))
    },

    "d30_importance_select" -> { (s, dir) =>
      // DSIR-style IMPORTANCE-WEIGHTED data selection (Xie et al. 2023,
      // "Data Selection for Language Models via Importance Resampling"):
      // score every doc by how much its hashed-bigram distribution looks
      // like a TARGET distribution (here: the English subset standing in
      // for a curated high-quality corpus) relative to the RAW corpus,
      // then keep a deterministic top quota per language. Features are
      // the fused shingle_hashes(text, 2) bigram hashes folded into
      // m=4096 buckets (DSIR's hashed n-gram feature space). Per-bucket
      // weight is the add-one-smoothed count ratio in exact fixed point:
      // w(b) = ((tc+1)·10⁴) div (rc+1) — a monotone surrogate of DSIR's
      // log-likelihood ratio whose constant |raw|/|target| normalization
      // cancels in the per-language ranking, and since target ⊆ raw
      // implies tc ≤ rc, w(b) ≤ ~10⁴ and the per-doc sum never
      // approaches int64 at ANY corpus size (no overflow cliff, unlike
      // a p_t/p_r fixed-point which scales with corpus totals). Scale:
      // two linear corpus passes (bigram explode → 4096-bucket counts
      // with map-side partials) + one broadcast of the ≤4096-row weight
      // table + a top-5-per-lang window (WindowGroupLimit prunes to 5
      // rows per partition before the final exchange).
      val m = 4096
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
      val bi = docs.select(col("doc_id"), col("lang"),
        explode(expr("shingle_hashes(text, 2)")).as("h"))
        .select(col("doc_id"), col("lang"), (col("h") % m).as("b"))
      val rc = bi.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      val tc = bi.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val wtab = rc.join(tc, Seq("b"), "left_outer")
        .select(col("b"),
          expr("((coalesce(tc, 0) + 1) * 10000) div (rc + 1)").as("w"))
      val scored = bi.join(broadcast(wtab), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("score"))
      val ranked = docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("score"), lit(0L)).as("score"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("score").desc, col("doc_id"))
      ranked.withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("doc_id"),
          col("n_bigrams"), col("score"))
        .orderBy(col("lang"), col("rnk"))
    },

    "d31_fuzzy_entity" -> { (s, dir) =>
      // FUZZY entity matching — edit-distance record linkage, the
      // entity-resolution face of dedup (same records, different
      // spellings — the problem MinHash can't see because one typo in
      // a short name destroys most of its shingles): each probe entity
      // links to its nearest-name neighbor by exact Levenshtein
      // distance, custkey tie-break. Both engines implement the
      // standard unit-cost edit distance, so distances and the argmin
      // hash-match. Bounded probe set (|Q| = 30) against a bounded
      // candidate slice (500) — the v01/v15 bounded-reference
      // contract: at production scale the candidate set comes from
      // BLOCKING (q-gram / prefix buckets, exactly the d19
      // prefix-filter machinery) before any distance evaluation, never
      // an all-pairs scan; this query grades the distance + argmin
      // semantics that blocked candidates feed into.
      val c = Tables.load(s, dir, "customer")
      val q = c.filter(col("c_custkey") < 30)
        .select(col("c_custkey").as("qk"), col("c_name").as("qn"))
      val cand = c.filter(col("c_custkey") < 500)
        .select(col("c_custkey").as("ck"), col("c_name").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qk")).orderBy(col("dist"), col("ck"))
      q.join(cand, col("qk") =!= col("ck"))
        .withColumn("dist", levenshtein(col("qn"), col("cn")).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qk").as("c_custkey"), col("ck").as("match_key"),
          col("dist"))
        .orderBy(col("c_custkey"))
    },

    "d31b_blocked_entity" -> { (s, dir) =>
      // BLOCKED fuzzy entity resolution — d31's production shape:
      // PassJoin segment blocking (Li/Deng/Feng 2011, see
      // `blockedNearest`) generates candidates BEFORE any distance
      // evaluation, so work is ∝ Σ_key |probes|·|cands|, never
      // |Q|×|C|. Soundness (no recall loss at τ): τ edits cannot
      // touch all τ+1 candidate segments, so a true pair shares one
      // segment verbatim within a ±τ position window and MUST collide
      // on its (length, slot, segment) key
      // (`DedupPropSpec` pins d31b == brute-force τ-argmin, and
      // d31b ⊇ d31's argmin at dist ≤ τ on d31's own slice). The
      // record-linkage benchmark construction: the registry is every
      // document's 24-char prefix (DIVERSE strings — unlike the
      // templated customer names, where every sound blocker is forced
      // to admit wide candidates because true τ-neighbors share only
      // template grams, the in-code note on d31); probes are DIRTY
      // copies — one char deterministically deleted at position
      // (doc_id % 20) + 2 — so each probe has a planted dist-1 source
      // the blocker must recover among the full registry. Length
      // compatibility |len Δ| ≤ τ rides the key's L component;
      // Levenshtein runs on blocked pairs only; argmin by (dist, ck).
      val base = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 24)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("en"))
      val reg = base.select(col("doc_id").as("ek"), col("en"),
        lit(false).as("is_probe"))
      val probes = base.filter(col("doc_id") % 11 === 0)
        .withColumn("p", (col("doc_id") % 20 + 2).cast("int"))
        .select((col("doc_id") + 1000000000L).as("ek"),
          expr("concat(substring(en, 1, p - 1), substring(en, p + 1, 30))")
            .as("en"),
          lit(true).as("is_probe"))
      blockedNearest(reg.unionByName(probes), 2)
        .select((col("qk") - 1000000000L).as("doc_id"),
          col("mk").as("match_id"), col("dist"))
        .orderBy(col("doc_id"))
    },

    "d32_snapshot_diff" -> { (s, dir) =>
      // DATASET-VERSION DIFF — the content-addressed snapshot compare
      // every dataset-versioning layer (DVC / lakeFS / Delta history)
      // runs before publishing a new corpus build: two snapshots align
      // on doc_id and every doc classifies as added / removed /
      // changed (same id, different content hash) / unchanged, rolled
      // up per source with the new snapshot's char mass. The snapshots
      // derive deterministically from the one graded corpus (old drops
      // doc_id % 13 = 0, new drops % 17 = 0 and rewrites % 5 = 0 docs)
      // so both engines build identical versions — the classification
      // logic is what's graded. Scale: md5 content addressing means
      // the diff never compares text — one hash projection per side
      // and ONE full-outer equi-join on doc_id (both sides partition
      // on the key), then a bounded per-(source, status) aggregate;
      // at 100 TB the join carries 16-byte hashes, not documents.
      val base = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
      val old = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id").as("odoc"), col("source").as("osrc"),
          md5(col("text").cast("binary")).as("oh"))
      val neu = base.filter(col("doc_id") % 17 =!= 0)
        .withColumn("t2", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .select(col("doc_id").as("ndoc"), col("source").as("nsrc"),
          md5(col("t2").cast("binary")).as("nh"),
          length(col("t2")).cast("long").as("nchars"))
      old.join(neu, col("odoc") === col("ndoc"), "full_outer")
        .select(coalesce(col("osrc"), col("nsrc")).as("source"),
          when(col("odoc").isNull, "added")
            .when(col("ndoc").isNull, "removed")
            .when(col("oh") =!= col("nh"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("nchars"), lit(0L)).as("nchars"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nchars")).as("total_chars"))
        .orderBy(col("source"), col("status"))
    },

    "d33_serving_pipeline" -> { (s, dir) =>
      // SERVING-SIDE composite — d24's twin: d24 graded the TRAINING
      // pipeline (filter → dedup → mix → shard); this grades the
      // nightly INGEST loop the index components exist for, as ONE
      // plan per batch doc (doc_id ≡ 0 mod 7):
      //   d23 index maintenance (base + delta text segments; built at
      //   query construction, warmup pays it) → d27 Bloom pre-filter
      //   (bitset derived from the MATERIALIZED segment hashes — the
      //   corpus is never re-hashed) → bloom-GATED d21 exact probe
      //   (bloom_pass = 0 docs are provably fresh and skip the hash
      //   join entirely — the gate is IN the plan, not just the
      //   output) → d21 LSH band probe with per-SEGMENT provenance
      //   (n_near_delta = verified near-dups landing in yesterday's
      //   delta) → v19 ANN probe over cells_base ∪ cells_delta for
      //   the batch doc's embedding (top-1 nearest INDEXED neighbor;
      //   base/delta re-cut on d23's day boundaries so today's batch
      //   is NOT in the ANN index, unlike v19's own convention).
      // The ONLY text hashed is the batch's (md5 + tok_hashes); the
      // corpus appears exclusively through index FileScans, the
      // codebook broadcasts, and there is no training subtree — the
      // golden pins all three. At 100 TB this is the job whose cost
      // must be ∝ |batch|: every corpus-sized input here is a
      // column-pruned index segment scan.
      val baseIdx = ensureIngestIndexWhere(s, dir, "base",
        col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)
      val deltaIdx = ensureIngestIndexWhere(s, dir, "delta",
        col("doc_id") % 7 === 3)
      def seg(part: String, cols: Seq[String]): DataFrame =
        s.read.parquet(s"$baseIdx/$part").toDF(cols: _*)
          .withColumn("seg", lit("base"))
          .unionByName(s.read.parquet(s"$deltaIdx/$part")
            .toDF(cols: _*).withColumn("seg", lit("delta")))
      val isNew = col("doc_id") % 7 === 0
      val mBits = 4096
      def bit(c: Column, j: Int): Column =
        conv(substring(md5(concat(c, lit(s"#$j")).cast("binary")),
          1, 8), 16, 10).cast("long") % mBits
      // Segment hashes could collide across segments if the same text
      // lands in both days — distinct before any probe join.
      val hashes = seg("hashes", Seq("cch")).select(col("cch")).distinct()
      val bits = hashes
        .select(explode(array(bit(col("cch"), 0), bit(col("cch"), 1),
          bit(col("cch"), 2))).as("sb")).distinct()
      val batch = Tables.load(s, dir, "documents").filter(isNew)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
        .withColumn("b0", bit(col("ch"), 0))
        .withColumn("b1", bit(col("ch"), 1))
        .withColumn("b2", bit(col("ch"), 2))
      val bloomed = Seq("b0", "b1", "b2").foldLeft(batch) { (df, c) =>
        df.join(broadcast(bits.select(col("sb").as(s"hit_$c"))),
          col(c) === col(s"hit_$c"), "left_outer")
      }.select(col("doc_id"), col("ch"),
        when(col("hit_b0").isNotNull && col("hit_b1").isNotNull &&
          col("hit_b2").isNotNull, 1L).otherwise(0L).as("bloom_pass"))
      // The gate: only bloom-passing docs reach the exact hash join.
      // Soundness (no false negatives, DedupPropSpec's d27 spec) makes
      // this value-identical to the ungated join the oracle runs.
      val exact = bloomed.filter(col("bloom_pass") === 1)
        .join(hashes, col("ch") === col("cch"), "left_outer")
        .select(col("doc_id").as("xid"),
          when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"))
      // Batch-only signature pass — the only tok_hashes in the plan.
      val bsig = docsWithTokens(s, dir).filter(isNew)
        .withColumn("__th", tokHashes(col("text")))
        .select(col("doc_id"),
          array_distinct(col("__th")).as("tset"),
          sigArray(col("__th")).as("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK) // feeds bands + re-attach
      // Bucket cap over the base∪delta union (BandCap note at
      // lshPairsFrom) — the population is a property of the whole
      // standing corpus, so the cap must see both segments together.
      // Round-13: applied off the artifacts' build-time pop columns +
      // bucket-count fold (cappedIndexBands) — no corpus band rows are
      // aggregated at probe time.
      val bands = cappedIndexBands(s, Seq(baseIdx, deltaIdx))
      val tsets = seg("tsets", Seq("db", "tb"))
      val bb = bsig.select(col("doc_id").as("da"),
        posexplode_outer(col("sig")).as(Seq("band", "mh")))
      val cand = PairMiner.candidates(bb.join(bands,
        col("band") === col("bandb") && col("mh") === col("mhb")))
      // tsets brings tb AND the segment tag (db-unique)
      val verified = PairMiner.verify(cand,
          bsig.select(col("doc_id").as("da"), col("tset").as("ta")), tsets)
        .groupBy(col("da"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_near"),
          sum(when(col("jac") >= 0.7 && col("seg") === "delta", 1L)
            .otherwise(0L)).as("n_near_delta"))
      val ann = Similarity.annNearestIndexed(s, dir)
      bloomed.select(col("doc_id"), col("bloom_pass"))
        .join(exact, col("doc_id") === col("xid"), "left_outer")
        .join(verified, col("doc_id") === col("da"), "left_outer")
        .join(ann, col("doc_id") === col("q_id"), "left_outer")
        .select(col("doc_id"), col("bloom_pass"),
          coalesce(col("exact_dup"), lit(0L)).as("exact_dup"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          coalesce(col("n_near_delta"), lit(0L)).as("n_near_delta"),
          col("ann_nn"), col("ann_sim"), col("ann_seg"))
        .orderBy(col("doc_id"))
    },

    "d34_decontamination" -> { (s, dir) =>
      // TRAIN/EVAL CONTAMINATION detection — the decontamination audit
      // every benchmark-reporting training run owes (the GPT-3/PaLM
      // method: an eval document is contaminated if the training
      // corpus contains any of its exact K-token windows; ≙ Brown et
      // al. 2020 appendix C's 13-gram overlap, here K = DupSpanK
      // shared with d26 so both token-grain ops agree on the window
      // unit). Per eval doc (the doc_id ≡ 5 mod 7 slice): its distinct
      // window count, how many of those windows appear anywhere in
      // training, how many DISTINCT training docs share ≥1 window, and
      // the containment fraction.
      //
      // Scale shape — d26's discipline applied CROSS-corpus: each side
      // is ONE explode + md5 pass over its own tokens (linear, the
      // same per-token cost d26 pays), candidates come from the
      // equi-join on the 16-byte window fingerprint — never a doc-pair
      // join, never text reaching the shuffle. The eval side is the
      // tiny one (held-out benchmarks, ~0.01% of corpus mass in
      // production), so stats drive its window set to the build side /
      // broadcast, and the training corpus streams past it map-side;
      // a window repeated f times in training costs f join rows
      // against that eval window, bounded by the distinct-per-doc cut
      // on BOTH sides before the join. The two grains (shared-window
      // count, contaminating-doc count) aggregate from one checkpointed
      // hit set — not two probe passes and not a nondeterministic
      // double-countDistinct rewrite.
      decontaminationReport(docsWithTokens(s, dir), DupSpanK,
        col("doc_id") % 7 === 5)
    },

    "d35_cross_source_overlap" -> { (s, dir) =>
      // CROSS-SOURCE CONTAMINATION MATRIX — which pairs of ingest
      // sources carry the same content: the provenance audit run
      // before attributing dedup losses to a feed (the Common-Crawl
      // snapshot-overlap / "which dump copied which" measurement,
      // the pairwise face of d32's two-snapshot diff). Content grain
      // is d12's disjoint 20-token block so boilerplate shared at
      // paragraph level counts even when no full document matches.
      //
      // Scale shape: the per-(block, source) doc count aggregates
      // FIRST, so the source-pair self-join fans out per block hash
      // by the number of DISTINCT SOURCES carrying it (≤ S, bounded
      // by the catalog — a million-copy boilerplate block contributes
      // S² matrix rows, never 10^12 doc pairs), and the join key is
      // the uniform md5 — unskewable. Output is the S²/2 matrix:
      // shared distinct blocks plus each side's affected-doc mass.
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
      val tk = split(col("text"), " ")
      val starts = sequence(lit(0), greatest(size(tk) - 1, lit(0)),
        lit(20))
      val blocks = docs
        // outer explode — see chunkDedup's inferred-filter note.
        .select(col("source"), col("doc_id"), tk.as("tk"),
          explode_outer(starts).as("idx"))
        .select(col("source"), col("doc_id"),
          md5(array_join(slice(col("tk"), col("idx") + 1, lit(20)), " ")
            .cast("binary")).as("h"))
      val perSrc = blocks.groupBy(col("h"), col("source"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val lo = perSrc.select(col("h"), col("source").as("source_lo"),
        col("nd").as("nd_lo"))
      val hi = perSrc.select(col("h").as("hh"),
        col("source").as("source_hi"), col("nd").as("nd_hi"))
      lo.join(hi, col("h") === col("hh") &&
          col("source_lo") < col("source_hi"))
        .groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_shared_blocks"),
          sum(col("nd_lo")).as("n_docs_lo"),
          sum(col("nd_hi")).as("n_docs_hi"))
        .orderBy(col("source_lo"), col("source_hi"))
    },

    "d36_soft_dedup" -> { (s, dir) =>
      // SOFT dedup — repetition-DISCOUNTED sampling weights instead of
      // d07's hard drop: every member of a duplicate cluster survives
      // with weight 1/|cluster|, so the cluster contributes its MEAN
      // token mass once rather than its keeper's (the downweight-
      // don't-delete policy: hard dedup biases per-source mixes when
      // clusters span sources — all mass lands on the keeper's source
      // — while soft dedup leaves each source its own share). Graded
      // per source: raw vs hard-kept (d07's longest-doc-wins rule) vs
      // soft effective token mass, with weights in exact FIXED-POINT
      // integer arithmetic — floor(n_toks·10⁶ / csize) per doc, summed
      // as int64 — because a per-row double 1/csize summed across an
      // unordered groupBy would hash-flake (float addition is order-
      // sensitive; integer addition is not). Scale: probes the
      // MATERIALIZED cluster labels (ensureClusterIndex — the CC
      // fixpoint is a per-corpus-version stage, not a per-report
      // recompute); weighting is ONE window (count + rank share a
      // single (cluster)-keyed sort, the d07 one-Window discipline)
      // plus a source-keyed partial agg — no corpus shuffle beyond
      // the cluster join d07 already pays.
      val clusters = clusterLabels(s, dir)
        .select(col("doc_id").as("cid"), col("cluster"))
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      val labeled = docs
        .join(clusters, col("doc_id") === col("cid"), "left_outer")
        .select(col("doc_id"), col("source"), col("n_toks"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_toks").desc, col("doc_id"))
      val wFull = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      labeled
        .withColumn("rnk", row_number().over(w))
        .withColumn("csize", count(lit(1)).over(wFull))
        .withColumn("eff_tok_e6", expr("(n_toks * 1000000L) div csize"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("n_toks")).as("raw_tokens"),
          sum(when(col("rnk") === 1, col("n_toks")).otherwise(0L))
            .as("hard_tokens"),
          sum(col("eff_tok_e6")).as("soft_tokens_e6"))
        .orderBy(col("source"))
    },

    "d37_deletion_audit" -> { (s, dir) =>
      // RIGHT-TO-BE-FORGOTTEN propagation — what a takedown batch does
      // to the DEDUPED corpus, not just the raw one: deleting a doc
      // that happens to be its cluster's d07 keeper silently swaps the
      // canonical copy (possibly to another SOURCE — a provenance
      // shift no raw-grain delete count shows), and deleting a whole
      // cluster erases content the keeper-count said was "1 doc".
      // Takedown set: md5(doc_id) first hex ≤ '1' (deterministic ⅛ of
      // the corpus, uniform across sources — no RNG, both engines
      // agree bit-for-bit). Per OLD-keeper source: direct deletions
      // and token mass removed, clusters touched, keepers lost,
      // re-elections (a survivor takes over, d07's same rule over the
      // survivors), full erasures, and keeper-source moves. Scale:
      // probes the MATERIALIZED cluster labels (ensureClusterIndex);
      // ONE cluster-keyed window (rnk only — csize and the survivor
      // argmin fold into the cluster aggregate) + two partial aggs;
      // the new-keeper pick is the ivfAssign struct-MIN, not a second
      // window sort.
      val clusters = clusterLabels(s, dir)
        .select(col("doc_id").as("cid"), col("cluster"))
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("del",
          when(substring(md5(col("doc_id").cast("string")
            .cast("binary")), 1, 1) <= "1", 1L).otherwise(0L))
      val labeled = docs
        .join(clusters, col("doc_id") === col("cid"), "left_outer")
        .select(col("doc_id"), col("source"), col("n_toks"), col("del"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      deletionAudit(labeled)
    },

    "d38_mix_plan" -> { (s, dir) =>
      // MIX PLANNING under capacity — computing the per-source token
      // QUOTAS d24's mixer consumes, when target weights meet finite
      // per-source supply: proportional shares w·B/W overdraw small
      // sources, so the practical mixer runs capped redistribution —
      // round 1 allocates min(avail, w·B/W), round 2 re-offers the
      // undrawn remainder to the sources that still have supply,
      // re-weighted among THEM. Both rounds are exact int64 floor
      // divisions (the d36 fixed-point rule: no double shares to
      // hash-flake), weights are the deterministic 20−N ramp over
      // srcN, and B is ⅓ of total supply. Graded per source: supply,
      // both round allocations, the saturation flag, and the
      // post-round-2 fill fraction. Scale: ONE corpus projection into
      // a 20-row source aggregate; everything after is arithmetic on
      // that 20-row frame (two 1-row broadcast aggs, the t22
      // bounded-frame rule — never a per-doc window), so the plan
      // costs one scan no matter the corpus size.
      val src = barrier(Tables.load(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(sum(col("n_toks")).as("avail"))
        .withColumn("w",
          lit(20L) - expr("CAST(substring(source, 4) AS BIGINT)")))
      cappedRedistribution(src)
    },

    "d39_containment_pairs" -> { (s, dir) =>
      // ASYMMETRIC copy detection — shingle CONTAINMENT, the pair class
      // symmetric dedup is blind to: a short doc pasted inside a long
      // one has tiny Jaccard (the union is the long doc) but
      // containment |A∩B|/|A| ≈ 1, so d03/d04/d19 all skip it and the
      // copy survives into training. Shingle grain (d04's 3-gram
      // hashes), not token sets: this corpus's docs share a small
      // vocabulary, so token-set containment is saturated noise while
      // a shared 3-gram RUN is real copied text. Candidates use the
      // containment-adapted prefix filter (the d19/d31b rarest-first
      // discipline): C ≥ 0.9 forces |A\B| ≤ ⌊sza/10⌋, so A's
      // ⌊sza/10⌋+1 globally-RAREST shingles must hit B — probe side
      // carries only that prefix, index side is the full postings
      // (short lists for rare shingles; a doc whose rarest decile is
      // still corpus-hot degenerates, and the d04 DF cap is the
      // production valve for that). Role order (sza, doc_id) makes
      // each pair checked exactly once with A the contained side.
      // Verification is exact on re-attached sets; the kept pairs
      // report containment AND Jaccard side by side with the
      // jac_caught flag — the graded evidence of what the symmetric
      // pass misses. Work ∝ prefix collisions, never corpus².
      containmentPairsOn(Tables.load(s, dir, "documents"))
    },

    "d40_block_containment" -> { (s, dir) =>
      // Containment at BLOCK grain — d39's asymmetric copy detector
      // run over d12's 20-token block vocabulary instead of 3-gram
      // shingles: the unit is a whole paragraph-sized block hash, so a
      // hit means a VERBATIM block was lifted (boilerplate header,
      // license stanza, pasted paragraph), where d39's shingle grain
      // also fires on paraphrase-adjacent runs. Coarser units ⇒ fewer
      // per-doc units (⌈dl/20⌉ vs dl−2) and a lower useful threshold:
      // C ≥ 1/2 — half of A's blocks appearing verbatim in B is a
      // structural copy even when no shingle run clears d39's 0.9.
      // Same engine ([[containmentPairsCore]] at num/den = 1/2): the
      // prefix filter adapts to ⌊sza/2⌋+1 rarest blocks, recall still
      // guaranteed by pigeonhole, work ∝ prefix collisions. The
      // sz/cont/jac columns read at block grain; jac_caught again
      // flags the overlap with what symmetric dedup would see.
      containmentPairsCore(
        blockSetsOf(Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)), 1, 2)
    },

    "d41_clean_containment" -> { (s, dir) =>
      // Containment audit over the DEDUP OUTPUT — d40's detector run on
      // d12's reassembled clean text, connecting block-containment to
      // the dedup stage that guards against it. d12's canonical rule
      // keeps exactly ONE instance of every distinct 20-token block
      // corpus-wide, and the reassembly grid re-slices each clean text
      // back into precisely its kept blocks (kept paragraphs are
      // 20-token aligned; only a doc's original tail block can be
      // short, and it reassembles last) — so after paragraph dedup no
      // block hash appears in two documents and the containment miner
      // MUST find zero pairs. The graded report pins that invariant
      // cross-engine next to the raw corpus's pair counts: one row per
      // phase with the pair/strict/symmetric-caught tallies, i.e. "what
      // block-level copying existed, and that the d12 pass removed all
      // of it". All counters are integers (no doubles cross the
      // engines); strict = cont ≥ 0.9 tested as inter·10 ≥ sz_small·9.
      // Scale shape: two phase passes, each d40's prefix-filtered
      // engine (work ∝ collisions — the clean phase's collision count
      // is ZERO by the uniqueness argument, so the audit costs one
      // corpus re-block plus the raw-phase mining).
      val raw = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val clean = paragraphDedup(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("clean_text").as("text"))
        .filter(length(col("text")) > 0)
      def phase(tag: String, docs: DataFrame): DataFrame = {
        val sets = blockSetsOf(docs)
        val pairs = containmentPairsCore(sets, 1, 2)
        val docStats = sets.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("shs")).cast("long")), lit(0L))
            .as("n_blocks"))
        val pairStats = pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("inter") * 10 >= col("sz_small") * 9, 1L)
            .otherwise(0L)), lit(0L)).as("n_strict"),
          coalesce(sum(col("jac_caught")), lit(0L)).as("n_jac_caught"))
        // 1-row × 1-row crossJoin — broadcast scalars, never cartesian.
        docStats.crossJoin(pairStats)
          .select(lit(tag).as("phase"), col("n_docs"), col("n_blocks"),
            col("n_pairs"), col("n_strict"), col("n_jac_caught"))
      }
      phase("clean_d12", clean).unionByName(phase("raw", raw))
        .orderBy(col("phase"))
    },

    "d42_contamination_sweep" -> { (s, dir) =>
      // DECONTAMINATION operating curve — d09's cross-source leak signal
      // swept over THREE n-gram grains (K = 8, 16, 32) in one pass: the
      // calibration a pipeline runs to pick its contamination K (too
      // short over-flags idiom, too long misses partial copies; the
      // curve shows each source pair's leak mass shrinking as K grows —
      // monotone by construction, since every 32-gram contains 16-grams
      // and every 16-gram 8-grams). Per (K, source pair): the number of
      // DISTINCT shared K-grams and the distinct contaminated docs on
      // each side. Sweep discipline (d15/v26): all three grains ride
      // ONE Generate — per doc the three window-hash arrays concat into
      // a single exploded stream of (k, md5(gram)) — and one distinct
      // shuffle; the cross-source detection is a fingerprint EQUI-join
      // at the (k, gram, source) grain, so work scales with shared-gram
      // occurrences, never doc pairs (the d09 rule at every grain). The
      // two doc-side tallies aggregate separately and join back
      // bounded — no two-countDistinct RewriteDistinctAggregates
      // nondeterminism (the verify-skill gotcha).
      val ks = Seq(8, 16, 32)
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        // docsWithTokens' spread rule (round 16, found by StageProfile):
        // the single-row-group test parquet makes the scan ONE task, and
        // the heaviest stage of this query — ~3 window-md5s per token
        // across all three grains — ran serialized on one core (3.2 s of
        // a 10 s plan, 31 threads idle). One shuffle of the tiny raw
        // docs parallelizes it; at production scale the file count makes
        // the spread proportionally free.
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"), col("text"))
      // All three grains from three fused shingle_hashes passes
      // (round 16, guide §4 — the dupSpansPerDoc rewrite): byte-span
      // digests per window instead of a per-position
      // md5(array_join(slice(...))) string build. shingle_hashes is
      // empty when a doc is shorter than k (the old k <= n filter's
      // job), and the oracle's gramCte recomputes the identical 60-bit
      // fold. Still ONE Generate: the three hash arrays concat into a
      // single exploded stream of (k, h).
      val gramArr = concat(ks.map { k =>
        transform(call_function("shingle_hashes", col("text"), lit(k)),
          h => struct(lit(k.toLong).as("k"), h.as("h")))
      }: _*)
      val gd = docs
        .select(col("doc_id"), col("source"),
          explode_outer(gramArr).as("g"))
        .filter(col("g").isNotNull)
        .select(col("g.k").as("k"), col("g.h").as("h"),
          col("source"), col("doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val gs = gd.select(col("k"), col("h"), col("source")).distinct()
      val shared = gs.select(col("k"), col("h"), col("source").as("sa"))
        .join(gs.select(col("k"), col("h"), col("source").as("sb")),
          Seq("k", "h"))
        .filter(col("sa") < col("sb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nGrams = shared.groupBy(col("k"), col("sa"), col("sb"))
        .agg(count(lit(1)).as("n_shared_grams"))
      def sideDocs(side: String) = shared
        .join(gd.select(col("k"), col("h"),
          col("source").as(side), col("doc_id")),
          Seq("k", "h", side))
        .groupBy(col("k"), col("sa"), col("sb"))
        .agg(countDistinct(col("doc_id")).as(s"n_docs_$side"))
      nGrams
        .join(sideDocs("sa"), Seq("k", "sa", "sb"))
        .join(sideDocs("sb"), Seq("k", "sa", "sb"))
        .select(col("k"), col("sa"), col("sb"), col("n_shared_grams"),
          col("n_docs_sa").as("n_docs_a"), col("n_docs_sb").as("n_docs_b"))
        .orderBy(col("k"), col("sa"), col("sb"))
    }
  )

  /** d40/d41's unit derivation: the d12 20-token block grid over any
    * (doc_id, text) frame, as per-doc DISTINCT sorted block-hash sets —
    * the input grain [[containmentPairsCore]] mines. Round 17 (verdict
    * #5): block fingerprints are the 60-bit md5-prefix fold (int64),
    * not the 32-char md5 hex STRING — 4× fewer bytes through every
    * downstream explode/distinct/candidate-join shuffle, and the
    * array<bigint> grain lets [[containmentPairsCore]] verify with the
    * codegen'd inter_count. Same no-%P domain as shingle_hashes (the
    * 31-bit reduction is token-grain-only); the d40/d41 oracles
    * recompute the identical fold. */
  private def blockSetsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("tk"))
    // outer explode — sequence() is provably non-empty (chunkDedup
    // note); the d12 grid: starts 0, 20, 40, ...
    .select(col("doc_id"), col("tk"),
      explode_outer(sequence(lit(0),
        greatest(size(col("tk")) - 1, lit(0)), lit(20))).as("idx"))
    .select(col("doc_id"),
      conv(substring(md5(
        array_join(slice(col("tk"), col("idx") + 1, lit(20)), " ")
          .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
    .groupBy(col("doc_id"))
    .agg(sort_array(collect_set(col("h"))).as("shs"))

  /** d39's core over any (doc_id, text) frame: shingle-containment
    * pairs (C ≥ 0.9, 3-gram shingles, containment-adapted prefix
    * filter with role order (sza, doc_id)). Exposed for
    * `DedupPropSpec`'s brute-force recall/precision pin, like
    * [[prefixFilterPairsOn]] for d19. Persists its base — callers in
    * tests should `clearCache()` after. */
  private[graft] def containmentPairsOn(docs: DataFrame): DataFrame =
    containmentPairsCore(
      docs.select(col("doc_id"),
        array_distinct(call_function("shingle_hashes", col("text"),
          lit(3))).as("shs")),
      9, 10)

  /** The containment engine under d39/d40, parameterized on the unit
    * grain and threshold: input is any (doc_id, shs: array) frame of
    * DISTINCT unit hashes (3-gram shingles for d39, d12's 20-token
    * block hashes for d40), pairs kept at containment ≥ num/den.
    * C ≥ num/den forces |A\B| ≤ ⌊sza·(den−num)/den⌋, so A's
    * ⌊sza·(den−num)/den⌋+1 globally-RAREST units must hit B — the
    * containment-adapted prefix filter, guaranteed-recall at any
    * threshold (pigeonhole; `DedupPropSpec` pins both grains against
    * brute force). Persists its base — test callers `clearCache()`. */
  private[graft] def containmentPairsCore(sets: DataFrame,
                                          num: Int, den: Int): DataFrame = {
    {
      val base = sets
        .withColumn("sz", size(col("shs")).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ex = base.select(col("doc_id"), col("sz"),
        explode(col("shs")).as("h"))
      val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val pref = ex.join(dfreq, "h")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("h"))))
            .as("ord"),
          count(lit(1)).as("sza"))
        .select(col("doc_id").as("da"), col("sza"),
          explode(slice(col("ord"), lit(1),
            expr(s"CAST(sza * ${den - num} div $den + 1 AS INT)")))
            .as("p"))
        .select(col("da"), col("sza"), col("p.h").as("h"))
      val post = ex.select(col("doc_id").as("db"), col("sz").as("szb"),
        col("h").as("hb"))
      val cand = PairMiner.candidates(pref.join(post, col("h") === col("hb") &&
        (col("sza") < col("szb") ||
          (col("sza") === col("szb") && col("da") < col("db")))))
      val full = base.select(col("doc_id"), col("shs"))
      PairMiner.verify(cand,
          full.select(col("doc_id").as("da"), col("shs").as("ta")),
          full.select(col("doc_id").as("db"), col("shs").as("tb")))
        // J is re-taken below off the projected sizes that the
        // containment filter and `cont` already share.
        .drop("jac")
        .withColumn("sz_small", size(col("ta")).cast("long"))
        .withColumn("sz_big", size(col("tb")).cast("long"))
        .filter(col("inter") * den >= col("sz_small") * num)
        .withColumn("cont", col("inter").cast("double") /
          col("sz_small").cast("double"))
        .withColumn("jac",
          PairMiner.jaccard(col("sz_small"), col("sz_big"), col("inter")))
        .select(col("da"), col("db"), col("sz_small"), col("sz_big"),
          col("inter"), col("cont"), col("jac"),
          when(col("jac") >= 0.7, 1L).otherwise(0L).as("jac_caught"))
        .orderBy(col("da"), col("db"))
    }
  }

  /** d37's core over any (doc_id, source, n_toks, del, cluster) frame:
    * per old-keeper source, deletion-propagation stats through d07's
    * keeper rule. Exposed for `DedupPropSpec`'s brute-force check. */
  private[graft] def deletionAudit(labeled: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("n_toks").desc, col("doc_id"))
    val cl = labeled
      .withColumn("rnk", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("del")).as("n_del"),
        sum(col("del") * col("n_toks")).as("tok_del"),
        max(when(col("rnk") === 1, col("source"))).as("ksrc"),
        max(when(col("rnk") === 1, col("del"))).as("kdel"),
        min(when(col("del") === 0,
          struct(col("rnk"), col("source")))).as("surv"))
    cl.groupBy(col("ksrc").as("source"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_members")).as("n_docs"),
        sum(col("n_del")).as("n_deleted"),
        sum(col("tok_del")).as("tok_deleted"),
        sum(when(col("n_del") > 0, 1L).otherwise(0L))
          .as("clusters_touched"),
        sum(col("kdel")).as("keepers_lost"),
        sum(when(col("kdel") === 1 && col("surv").isNotNull, 1L)
          .otherwise(0L)).as("reelected"),
        sum(when(col("n_del") === col("n_members"), 1L).otherwise(0L))
          .as("erased"),
        sum(when(col("kdel") === 1 && col("surv").isNotNull &&
          col("surv").getField("source") =!= col("ksrc"), 1L)
          .otherwise(0L)).as("moved_source"))
      .orderBy(col("source"))
  }

  /** d38's core over any (source, avail, w) frame: two-round capped
    * proportional allocation against a budget of ⅓ total supply, all
    * divisions int64 floor. Exposed for `DedupPropSpec`'s brute-force
    * check (which also pins the never-overdraw invariants). */
  private[graft] def cappedRedistribution(src: DataFrame): DataFrame = {
    val tot = src.agg(sum(col("avail")).as("ta"), sum(col("w")).as("tw"))
    val r1 = src.crossJoin(broadcast(tot))
      .withColumn("budget", expr("ta div 3"))
      .withColumn("a1", least(col("avail"),
        expr("(w * budget) div tw")))
      .withColumn("open", when(col("a1") < col("avail"), 1L)
        .otherwise(0L))
    val left = r1.agg(
      (max(col("budget")) - sum(col("a1"))).as("l1"),
      sum(col("open") * col("w")).as("wu"))
    r1.crossJoin(broadcast(left))
      .withColumn("a2", when(col("open") === 1 && col("wu") > 0,
        least(col("avail") - col("a1"),
          expr("(w * l1) div wu"))).otherwise(0L))
      .select(col("source"), col("w"), col("avail").as("avail_toks"),
        col("budget"), col("a1").as("alloc_r1"),
        col("a2").as("alloc_r2"),
        (col("a1") + col("a2")).as("alloc"),
        (lit(1L) - col("open")).as("saturated_r1"),
        ((col("a1") + col("a2")).cast("double") /
          col("avail").cast("double")).as("fill_frac"))
      .orderBy(col("source"))
  }

  /** d34's core: per-eval-doc K-token-window containment against the
    * complementary training slice, over any (doc_id, toks) frame.
    * Exposed for `DedupPropSpec`'s brute-force equivalence check. */
  private[graft] def decontaminationReport(d: DataFrame, k: Int,
                                           isEval: Column): DataFrame = {
    // Round 16: one fused shingle_hashes pass per doc instead of a
    // per-position md5(array_join(slice(...))) — the dupSpansPerDoc
    // rewrite; the oracle recomputes the same 60-bit fold. Positions
    // are irrelevant here (the probe joins on the hash set alone).
    def winHashSet(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode_outer(call_function("shingle_hashes",
          array_join(col("toks"), " "), lit(k))).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    // evalW feeds the per-doc window total AND the probe join — the
    // barrier stops the eval explode running twice.
    val evalW = barrier(winHashSet(d.filter(isEval)))
    val trainW = winHashSet(d.filter(!isEval))
      .withColumnRenamed("doc_id", "t_id")
    val nW = evalW.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    // hits feeds both aggregation grains — the barrier stops the
    // training-corpus explode running twice.
    val hits = barrier(evalW.join(trainW, "h"))
    val sharedW = hits.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_windows"))
    val sharedD = hits.select(col("doc_id"), col("t_id")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam_docs"))
    d.filter(isEval).select(col("doc_id"))
      .join(nW, Seq("doc_id"), "left_outer")
      .join(sharedW, Seq("doc_id"), "left_outer")
      .join(sharedD, Seq("doc_id"), "left_outer")
      .select(col("doc_id").as("eval_doc"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared_windows"), lit(0L))
          .as("n_shared_windows"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          coalesce(col("n_shared_windows"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("containment"))
      .orderBy(col("eval_doc"))
  }

  /** d29's orientation: each undirected edge (da, db) redirected to
    * point from its (degree, id)-smaller endpoint u to the larger v,
    * carrying v's degree for the wedge-ordering condition. Under this
    * order the out-degree of every vertex is O(arboricity) — dense
    * hubs absorb edges instead of fanning them out — so the wedge
    * self-join Σ_u C(dout(u), 2) stays bounded on ANY degree
    * distribution (`DedupPropSpec`: a degree-D star yields ZERO
    * wedges; id-order would yield C(D,2)). */
  private[graft] def degreeOrientedEdges(pairs: DataFrame,
                                         deg: DataFrame): DataFrame =
    pairs
      .join(deg.select(col("id").as("da"), col("degree").as("dga")),
        "da")
      .join(deg.select(col("id").as("db"), col("degree").as("dgb")),
        "db")
      .withColumn("lt", col("dga") < col("dgb") ||
        (col("dga") === col("dgb") && col("da") < col("db")))
      .select(
        when(col("lt"), col("da")).otherwise(col("db")).as("u"),
        when(col("lt"), col("db")).otherwise(col("da")).as("v"),
        when(col("lt"), col("dgb")).otherwise(col("dga")).as("dv"))

  /** d29's core over an arbitrary (da, db) edge list (da ≠ db, each
    * undirected edge once): per-vertex degree, triangle count, and
    * exact basis-point clustering coefficient. Exposed for
    * `DedupPropSpec`'s brute-force and adversarial-degree checks. */
  private[graft] def triangleStats(pairs: DataFrame): DataFrame = {
    val sym = pairs.unionByName(
      pairs.select(col("db").as("da"), col("da").as("db")))
    val deg = sym.groupBy(col("da")).agg(count(lit(1)).as("degree"))
      .select(col("da").as("id"), col("degree"))
    val out = degreeOrientedEdges(pairs, deg)
    val w1 = out.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val w2 = out.select(col("u").as("u2"), col("v").as("v2"),
      col("dv").as("dv2"))
    val cl = out.select(col("u").as("cu"), col("v").as("cv"))
    // Wedge (u → v1, u → v2) ordered v1 ≺ v2 by (dv, id); the closing
    // edge, if present, is necessarily directed v1 → v2. The closing
    // join streams the WEDGE volume (Σ C(dout,2) — on this graph's
    // dense template cliques ~45× the edge count, and ~99.8% of wedges
    // close, so the volume is inherent output, not waste): hash-build
    // the |E|-row edge side instead of letting the planner sort-merge,
    // which would SORT the wedge stream — measured 1.8× on the
    // triangle core at sf1 (10.3 s → 5.8 s for 112 M wedges). The
    // build side is partitioned before the build, so per-task memory
    // is |E|/shuffle-partitions, not |E|.
    val tri = w1.join(w2, col("u") === col("u2") &&
        (col("dv1") < col("dv2") ||
          (col("dv1") === col("dv2") && col("v1") < col("v2"))))
      .join(cl.hint("shuffle_hash"),
        col("cu") === col("v1") && col("cv") === col("v2"))
      .select(col("u").as("a"), col("v1").as("b"), col("v2").as("c"))
    val tcnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    deg.join(tcnt, Seq("id"), "left_outer")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .select(col("id").as("doc_id"), col("degree"),
        col("t").as("triangles"),
        when(col("degree") >= 2,
          expr("(2 * t * 10000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_bp"))
      .orderBy(col("doc_id"))
  }

  /** d31b's core: τ-blocked nearest-neighbor entity match. Input frame
    * carries (ek: long, en: string, is_probe: boolean); returns one row
    * per probe that has a neighbor within edit distance τ:
    * (qk, mk, dist), mk = the (dist, ck)-argmin candidate.
    *
    * Round-14 rebuild — the round-13 ED-Join/FastSS gram-prefix shape
    * measured 73× for 10× data at the sf10 leg: on a corpus drawn from
    * a small template vocabulary even each string's RAREST q-grams are
    * corpus-hot (top block 27,000 strings at sf10), so gram-block
    * populations grow ∝ distinct strings and the candidate join
    * materialized 2.30·10⁹ key-collision pairs. Measured against the
    * same corpus, exact SEGMENT keys cut that to 8.0·10⁷ (29×, top
    * block 11,621) — so the blocking layer is now PassJoin
    * (partition-based similarity join; Li, Deng, Feng 2011):
    *
    * 1. STRING-GRAIN CANONICALIZATION (unchanged). All blocking,
    *    candidate generation and Levenshtein run over DISTINCT entity
    *    strings; entity keys re-attach at the end. Edit distance is a
    *    function of the strings alone, so the (dist, ck)-argmin
    *    factors: per candidate string the best representative is its
    *    min entity key (min2 covers the one case where that key is
    *    the probe itself). On a duplicate-heavy corpus pair work
    *    scales with distinct², not N².
    * 2. SEGMENT BLOCKING (PassJoin). Every candidate string of length
    *    L is split into k = τ+1 contiguous segments (even partition:
    *    the first k − L%k segments carry ⌊L/k⌋ chars, the rest one
    *    more). τ edits cannot touch all τ+1 segments, so for any pair
    *    within τ at least one candidate segment survives VERBATIM in
    *    the probe, shifted by at most the net indel count before it
    *    (≤ τ). Blocking key = (L, slot, segment text): the candidate
    *    emits its k segments; the probe emits, for each candidate
    *    length L ∈ [m−τ, m+τ] and slot, every substring of the
    *    slot's segment length starting within ±τ of the slot's start
    *    — O(k·(2τ+1)²) keys per distinct probe string, constant in
    *    corpus size. The L in the key subsumes the length filter. An
    *    exact multi-char equality key is selective even where every
    *    q-gram is common — template corpora, natural-language names —
    *    and a string shorter than k gets zero-length segments whose
    *    empty keys degrade gracefully to length-blocking (still
    *    sound; brute force within the length class is what a
    *    sub-(τ+1)-char corpus costs anyway). No gram ranking, no
    *    document-frequency pass, no per-string window — candidate
    *    generation is two pure projections and one equi-join.
    *
    * `DedupPropSpec` pins the whole scheme == brute force on
    * adversarial low-diversity corpora (duplicate strings, strings
    * down to 1 char, probe-probe matches), and d31b == d31's argmin
    * on d31's own slice.
    *
    * 100 TB shape: two linear map-side-combined groupBys canonicalize;
    * key generation is a projection (no shuffle, no window); the
    * candidate join is an EQUI-join on (L, slot, seg) whose probe
    * side is ∝ distinct probe strings and whose build side is
    * k rows per distinct corpus string; the pair-distinct shuffle
    * carries two short strings per row at distinct-string grain;
    * exact Levenshtein runs once per distinct blocked STRING pair;
    * the final argmin is a struct-MIN aggregate (map-side partials),
    * never a window sort over the candidate stream. */
  private[graft] def blockedNearest(ents: DataFrame,
                                    tau: Int): DataFrame = {
    require(tau >= 0, "tau must be non-negative")
    val k = tau + 1
    // ---- 1. canonicalize to distinct strings ----------------------
    // min1/min2 = two smallest entity keys per string (min2 only
    // matters when the probe itself holds min1); isq = some probe
    // carries this string. Both passes are map-side-combined linear
    // aggregates — never a collect_list of group members (hot strings
    // hold arbitrarily many entities at corpus scale).
    val eg1 = ents.groupBy(col("en"))
      .agg(min(col("ek")).as("min1"),
        max(col("is_probe").cast("int")).as("isqi"))
    val eg2 = ents.join(eg1.select(col("en"), col("min1")), "en")
      .filter(col("ek") =!= col("min1"))
      .groupBy(col("en")).agg(min(col("ek")).as("min2"))
    val dstr = eg1.join(eg2, Seq("en"), "left_outer")
      .select(col("en").as("sn"), col("min1"), col("min2"),
        (col("isqi") === 1).as("isq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- 2. PassJoin segment keys ---------------------------------
    // Even-partition arithmetic for a string of length L, slot i in
    // 1..k: len_i = L div k + (1 if i > k - L%k), start_i =
    // (i-1)*(L div k) + max(0, i-1-(k - L%k)) + 1. Shared by both
    // sides; the probe side re-derives it per enumerated L.
    def segLen(l: String, i: String) =
      s"($l div $k) + if($i > $k - ($l % $k), 1, 0)"
    def segStart(l: String, i: String) =
      s"($i - 1) * ($l div $k) + greatest(0, $i - 1 - ($k - ($l % $k))) + 1"
    val cseg = dstr.select(col("sn"),
      explode(expr(
        s"""transform(sequence(1, $k), i -> struct(
           |  i AS slot,
           |  substring(sn, ${segStart("length(sn)", "i")},
           |    ${segLen("length(sn)", "i")}) AS seg))""".stripMargin))
        .as("x"))
      .select(col("sn").as("cn"), length(col("sn")).as("sl"),
        col("x.slot").as("slot"), col("x.seg").as("seg"))
    // Probe keys: (L, slot, p) triples first (pure integer fan-out,
    // bounded by k·(2τ+1)² per string), then the substring + validity
    // filter in row land — sequence() would flip descending on an
    // empty window, so the p range is emitted unguarded and clipped
    // by the filter instead.
    val pk = dstr.filter(col("isq")).select(col("sn"),
      explode(expr(
        s"""flatten(transform(
           |  sequence(greatest(0, length(sn) - $tau), length(sn) + $tau),
           |  L -> flatten(transform(sequence(1, $k), i ->
           |    transform(
           |      sequence(${segStart("L", "i")} - $tau,
           |               ${segStart("L", "i")} + $tau),
           |      p -> struct(L AS sl, i AS slot, p AS p,
           |        ${segLen("L", "i")} AS len))))))""".stripMargin))
        .as("x"))
      .select(col("sn"), col("x.sl").as("sl"), col("x.slot").as("slot"),
        col("x.p").as("p"), col("x.len").as("len"))
      .filter(col("p") >= 1 &&
        col("p") - 1 + col("len") <= length(col("sn")))
      .select(col("sn").as("qn"), col("sl"), col("slot"),
        expr("substring(qn, p, len)").as("seg"))
      .distinct()
    // ---- 3. blocked candidate pairs (string grain) -----------------
    // qn == cn pairs stay IN (string-grain "self" = a different entity
    // with the same string); per-entity self-exclusion happens at the
    // representative step below. |len(qn) - len(cn)| <= tau is
    // enforced by the L component of the key.
    val cand = pk.join(cseg, Seq("sl", "slot", "seg"))
      .select(col("qn"), col("cn")).distinct()
    val verified = cand
      .withColumn("dist", levenshtein(col("qn"), col("cn")).cast("long"))
      .filter(col("dist") <= tau)
    // ---- 5. expand to probe grain, struct-MIN argmin ---------------
    val probes = ents.filter(col("is_probe"))
      .select(col("ek").as("qk"), col("en").as("qn"))
    probes.join(verified, "qn")
      .join(dstr.select(col("sn").as("cn"), col("min1"), col("min2")),
        "cn")
      // min1 === qk implies cn === qn (the probe's own string group).
      .withColumn("rep",
        when(col("min1") === col("qk"), col("min2"))
          .otherwise(col("min1")))
      .filter(col("rep").isNotNull)
      .groupBy(col("qk"))
      .agg(min(struct(col("dist"), col("rep"))).as("best"))
      .select(col("qk"), col("best.rep").as("mk"), col("best.dist").as("dist"))
  }

  /** d26's window length: a duplicated run shorter than K tokens is
    * ignored; runs >= K are found exactly, at any offset. 8 keeps the
    * graded corpus's ~40% near-dup rate visible at span grain while
    * staying above incidental 3-gram collisions. */
  private[graft] val DupSpanK = 8

  /** d24/d24b's shared prefix, one plan: t07 quality filter → d01 exact
    * dedup (min doc_id per content hash) → d03 near-dup mining over the
    * survivors → d06 components → the best doc of each cluster
    * (n_toks DESC, doc_id), all columns kept for the caller's select.
    * `filt` and `uniq` each persist once and fan out, so the corpus is
    * scanned and token-hashed once. */
  private def pipelineKeptBest(s: SparkSession, dir: String): DataFrame = {
    val filt = docsWithTokens(s, dir)
      .filter(TextAnalysis.keepPredicate)
      .select(col("doc_id"), col("source"), col("text"),
        size(col("toks")).cast("long").as("n_toks"),
        md5(col("text").cast("binary")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds exact canon + sig + joins
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    val uniq = filt
      .withColumn("rn", row_number().over(wEx))
      .filter(col("rn") === 1).drop("rn")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds sig + label join + quota
    val pairs = barrier(lshPairsFrom(lshSigFrom(uniq))
      .select(col("da"), col("db")))
    val (lab, _) = ConnectedComponents.runPairs(pairs, "da", "db")
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("n_toks").desc, col("doc_id"))
    uniq
      .join(lab.select(col("id"), col("lbl")),
        col("doc_id") === col("id"), "left_outer")
      .withColumn("cluster", coalesce(col("lbl"), col("doc_id")))
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1)
  }

  /** d24's quota → epoch-shard → packing tail over a kept-doc frame
    * (doc_id, source, n_toks, h) — factored out so d24 and the
    * span-cleaned d24b differ ONLY in the token-mass input (d24b
    * subtracts each doc's duplicated-span tokens before mixing).
    * Stages: d13's two-grain per-source greedy prefix under the token
    * quota (bucket-grain running sum + bounded bucket-cut window —
    * never one serial window per source), d14's md5 epoch shard, and
    * t17's two-grain packing prefix into B-token sequences. */
  private def packingManifest(keptIn: DataFrame): DataFrame = {
    // Round 17 (guide §5, verdict item 4): this tail fans its input out
    // FOUR ways (bucket cuts + quota window, then packing cuts + packing
    // window), and the input subtree is the whole upstream pipeline —
    // in d24b the labels join + keep-best window + the md5-per-window
    // span pass ran once PER CONSUMER (4 ShingleHashes evaluations in
    // the committed plan, zero ReusedExchange). The input is one short
    // row per kept doc (ids + two longs + a 32-char hash), so persisting
    // it collapses the upstream pipeline to one evaluation.
    val kept = keptIn.persist(StorageLevel.MEMORY_AND_DISK)
    val B = 512L
    val quota = 40000L
    val wBucketCut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Long.MinValue, -1)
    val wInBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    val kb = kept.withColumn("bucket", substring(col("h"), 1, 2))
    val cuts = kb.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_toks")).as("bucket_toks"))
      .withColumn("cum_bucket_before",
        coalesce(sum(col("bucket_toks")).over(wBucketCut), lit(0L)))
      .select(col("source"), col("bucket"), col("cum_bucket_before"))
    val mixed = kb
      .withColumn("cum_in_bucket",
        coalesce(sum(col("n_toks")).over(wInBucket), lit(0L)))
      .join(cuts, Seq("source", "bucket"))
      .filter(col("cum_bucket_before") + col("cum_in_bucket") < quota)
      .select(col("doc_id"), col("n_toks"))
      // Same §5 argument one grain later: the quota survivors feed the
      // packing cuts AND the packing window — two (doc_id, n_toks)-wide
      // consumers of the quota window + cuts join above.
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shard = conv(substring(md5(
      concat(col("doc_id").cast("string"), lit(":ep1"))
        .cast("binary")), 1, 15), 16, 10).cast("long") % 32
    val wCut = org.apache.spark.sql.expressions.Window
      .orderBy(col("pbucket")).rowsBetween(Long.MinValue, -1)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pbucket")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    val pbase = mixed
      .withColumn("shard", shard)
      .withColumn("pbucket", expr("doc_id div 64"))
    val pcuts = pbase.groupBy(col("pbucket"))
      .agg(sum(col("n_toks")).as("bucket_toks"))
      .withColumn("cum_bucket_before",
        coalesce(sum(col("bucket_toks")).over(wCut), lit(0L)))
      .select(col("pbucket"), col("cum_bucket_before"))
    pbase
      .withColumn("cum_in_bucket",
        coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
      .join(pcuts, "pbucket")
      .withColumn("cum_before",
        col("cum_bucket_before") + col("cum_in_bucket"))
      .withColumn("seq_id", expr(s"cum_before div $B"))
      .withColumn("spill",
        greatest(col("cum_before") + col("n_toks") -
          (col("seq_id") + 1) * B, lit(0L)))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("doc_toks"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("spill")).as("spill_toks"),
        countDistinct(col("shard")).as("n_shards"))
      .orderBy(col("seq_id"))
  }

  /** Per-doc duplicated-span stats — d26's mark/island machinery
    * factored out for reuse: (doc_id, source, n_spans, dup_toks), one
    * row per doc carrying >= 1 duplicated K-window. d26 aggregates
    * this to the per-source report; d24b consumes dup_toks as the
    * span-removal token adjustment feeding the quota/packing stages. */
  private[graft] def dupSpansPerDoc(docs: DataFrame, k: Int): DataFrame = {
    // Round 16 (guide §4): window fingerprints come from ONE fused
    // shingle_hashes pass per doc (byte-span digests, the d04/d16 scan
    // expression) instead of a per-position md5(array_join(slice(...)))
    // — which allocated a joined string + hex rendering per WINDOW, ~1
    // per token, the heaviest stage of d24b's plan. The hash space is
    // the shared 60-bit md5-prefix fold (round 17: raw, no % P); the
    // d26/d24b oracles recompute the identical fold, and dup-window
    // SETS (all the report sees) are unchanged. position p stays
    // 1-based: shingle i (0-based) covers tokens i+1 .. i+k.
    // shingle_hashes is empty when a doc has < k tokens (the old
    // `when(n >= k, ...)` guard), and the outer explode keeps the
    // generator-filter inference out of the scan (d17's note).
    val occ = docs
      .select(col("doc_id"), col("source"),
        posexplode_outer(call_function("shingle_hashes",
          array_join(col("toks"), " "), lit(k))).as(Seq("p0", "h")))
      .filter(col("p0").isNotNull)
      .select(col("doc_id"), col("source"),
        (col("p0") + 1).cast("long").as("p"), col("h"))
    // Round 17 (guide §2.4): duplicate marking via ONE count-over-window
    // on the fingerprint partition — `count(*) OVER (PARTITION BY h)`
    // then filter ≥ 2 — instead of the former groupBy(h) + join-back,
    // which re-shuffled the FULL occurrence table by h a second time
    // for the join AND needed an eager localCheckpoint barrier so the
    // per-window hashing didn't run once per consumer. Same rows out
    // (every occurrence whose fingerprint appears ≥ 2 times anywhere),
    // one Exchange(h) instead of join+agg exchanges, no barrier job.
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val marks = occ
      .withColumn("__c", count(lit(1)).over(wh))
      .filter(col("__c") >= 2)
      .drop("__c")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val prevEnd = max(col("p") + (k - 1)).over(w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    // Same partition+order spec for both window columns — one
    // Exchange+Sort, one Window operator.
    val isl = marks
      .withColumn("st",
        when(col("p") > coalesce(prevEnd, lit(-1L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("st")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    isl.groupBy(col("doc_id"), col("source"), col("island"))
      .agg(min(col("p")).as("sp"), (max(col("p")) + (k - 1)).as("ep"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ep") - col("sp") + 1).as("dup_toks"))
  }

  /** d26's core: per-source duplicated-span report over a (doc_id,
    * source, toks) frame. Exposed for `DedupPropSpec`'s brute-force
    * equivalence check with arbitrary K. */
  private[graft] def dupSpanReport(docs: DataFrame, k: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), col("toks"),
        size(col("toks")).as("n"))
    val tot = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n").cast("long")).as("total_tokens"))
    val perDoc = dupSpansPerDoc(docs, k)
    val perSrc = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_dup_docs"),
        sum(col("n_spans")).as("n_spans"),
        sum(col("dup_toks")).as("dup_tokens"))
    tot.join(perSrc, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"))
      .orderBy(col("source"))
  }

  /** d25's core: the two-policy split-safety report over (doc_id,
    * n_toks) docs and SYMMETRIC-free (da, db) near-dup pairs (da < db,
    * already persisted by the caller). Exposed for `DedupPropSpec`'s
    * invariant checks on synthetic pair sets. */
  private[graft] def splitSafetyReport(docs: DataFrame,
                                       pairs: DataFrame): DataFrame = {
    val (lab, _) = ConnectedComponents.runPairs(pairs, "da", "db")
    splitSafetyReportFrom(docs, pairs,
      lab.select(col("id").as("cid"), col("lbl").as("cluster")))
  }

  /** [[splitSafetyReport]] with the converged labels supplied as a
    * (cid, cluster) frame — d25 passes the MATERIALIZED
    * [[ensureClusterIndex]] labels so the per-query plan carries no
    * iterative CC subtree (the d07/d36/d37 discipline); the 2-arg
    * overload above keeps the from-scratch path for `DedupPropSpec`'s
    * synthetic pair sets. */
  private[graft] def splitSafetyReportFrom(docs: DataFrame,
                                           pairs: DataFrame,
                                           labels: DataFrame): DataFrame = {
    val lab = labels
    def splitOf(id: Column): Column = {
      val h = conv(substring(md5(
        concat(id.cast("string"), lit(":split")).cast("binary")),
        1, 15), 16, 10).cast("long") % 10
      when(h < 9, "train").otherwise("val")
    }
    // assigned is doc-grain and feeds four consumers (two policy
    // balance passes, the straddle audit, the pair leak join) — the
    // localCheckpoint stops each from re-running the label join.
    val assigned = barrier(docs
      .join(lab, col("doc_id") === col("cid"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("sp_naive", splitOf(col("doc_id")))
      .withColumn("sp_cluster", splitOf(col("cluster"))))
    def balance(sp: String) = assigned.agg(
      coalesce(sum(when(col(sp) === "train", 1L).otherwise(0L)), lit(0L))
        .as("n_train_docs"),
      coalesce(sum(when(col(sp) === "val", 1L).otherwise(0L)), lit(0L))
        .as("n_val_docs"),
      coalesce(sum(when(col(sp) === "train", col("n_toks")).otherwise(0L)),
        lit(0L)).as("n_train_tokens"),
      coalesce(sum(when(col(sp) === "val", col("n_toks")).otherwise(0L)),
        lit(0L)).as("n_val_tokens"))
    val pj = pairs
      .join(assigned.select(col("doc_id").as("da2"),
        col("sp_naive").as("na"), col("sp_cluster").as("ca")),
        col("da") === col("da2"))
      .join(assigned.select(col("doc_id").as("db2"),
        col("sp_naive").as("nb"), col("sp_cluster").as("cb")),
        col("db") === col("db2"))
    val leaks = pj.agg(
      coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)),
        lit(0L)).as("leak_naive"),
      coalesce(sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)),
        lit(0L)).as("leak_cluster"))
    // Straddle = a cluster whose members land on both sides: min/max of
    // the split label per cluster (avoids the two-countDistinct
    // RewriteDistinctAggregates nondeterminism noted in the verify
    // skill's gotchas).
    val strad = assigned.groupBy(col("cluster"))
      .agg(min(col("sp_naive")).as("mn"), max(col("sp_naive")).as("xn"),
        min(col("sp_cluster")).as("mc"), max(col("sp_cluster")).as("xc"))
      .agg(coalesce(sum(when(col("mn") =!= col("xn"), 1L).otherwise(0L)),
        lit(0L)).as("straddle_naive"),
        coalesce(sum(when(col("mc") =!= col("xc"), 1L).otherwise(0L)),
          lit(0L)).as("straddle_cluster"))
    // Scalar-row crossJoins only (1-row aggregates — broadcast, never
    // cartesian in size).
    val naiveRow = balance("sp_naive")
      .crossJoin(leaks.select(col("leak_naive").as("n_leak_pairs")))
      .crossJoin(strad.select(col("straddle_naive")
        .as("n_straddle_clusters")))
      .select(lit("naive").as("policy"), col("n_train_docs"),
        col("n_val_docs"), col("n_train_tokens"), col("n_val_tokens"),
        col("n_leak_pairs"), col("n_straddle_clusters"))
    val clusterRow = balance("sp_cluster")
      .crossJoin(leaks.select(col("leak_cluster").as("n_leak_pairs")))
      .crossJoin(strad.select(col("straddle_cluster")
        .as("n_straddle_clusters")))
      .select(lit("cluster").as("policy"), col("n_train_docs"),
        col("n_val_docs"), col("n_train_tokens"), col("n_val_tokens"),
        col("n_leak_pairs"), col("n_straddle_clusters"))
    clusterRow.unionByName(naiveRow).orderBy(col("policy"))
  }

  private val duckTokHash = tokHashSqlDuck.format("t")

  /** d18's DuckDB twin — shared verbatim by d21 (the materialized index
    * is a view of the corpus side, not a semantic change). */
  private lazy val oracleD18: String =
    s"""WITH sig AS (
           | SELECT doc_id,
           |  list_distinct(list_transform(string_split(text,' '), t -> $duckTokHash)) AS tset,
           |  [${A.indices.map(j => s"list_min(list_transform(string_split(text,' '), t -> (${A(j)} * $duckTokHash + ${B(j)}) % 2147483647))").mkString(", ")}] AS sig
           | FROM documents),
           |h AS (SELECT doc_id, md5(text) AS ch FROM documents),
           |exact AS (
           | SELECT b.doc_id,
           |  CAST(CASE WHEN EXISTS (
           |    SELECT 1 FROM h c
           |    WHERE c.doc_id % 7 <> 0 AND c.ch = b.ch)
           |   THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
           | FROM h b WHERE b.doc_id % 7 = 0),
           |bands AS (
           | SELECT doc_id, generate_subscripts(sig,1)-1 AS band,
           |  unnest(sig) AS mh, tset
           | FROM sig),
           |cpop AS (
           | SELECT band, mh, COUNT(*) AS pop FROM bands
           | WHERE doc_id % 7 <> 0 GROUP BY band, mh),
           |cand AS (
           | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
           |  a.tset AS ta, b.tset AS tb
           | FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.mh = b.mh
           |  JOIN cpop p ON b.band = p.band AND b.mh = p.mh
           | WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
           |  AND p.pop <= $BandCap),
           |jc AS (
           | SELECT da, db,
           |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
           |    (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jac
           | FROM cand),
           |ver AS (
           | SELECT da, COUNT(*) AS n_candidates,
           |  CAST(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_near,
           |  MAX(CASE WHEN jac >= 0.7 THEN {'jac': jac, 'db': db} END)
           |    AS best
           | FROM jc GROUP BY da)
           |SELECT e.doc_id, e.exact_dup,
           | COALESCE(v.n_candidates, 0) AS n_candidates,
           | COALESCE(v.n_near, 0) AS n_near,
           | (v.best).jac AS best_jac,
           | CAST((v.best).db AS BIGINT) AS best_doc
           |FROM exact e LEFT JOIN ver v ON e.doc_id = v.da
           |ORDER BY e.doc_id""".stripMargin

  /** DuckDB recursive connected components over the undirected pair
    * table `pairs` (node columns `a`, `b`): symmetric `edges` with self
    * loops, then `reach` (a, b) = every b reachable from a, so MIN(b)
    * per a is the component label — the fixpoint
    * [[graft.operators.ConnectedComponents]] converges to. Needs the
    * enclosing WITH RECURSIVE. */
  private[llm] def duckCcCtes(pairs: String, a: String, b: String): String =
    s"""edges AS (
       | SELECT $a AS a, $b AS b FROM $pairs
       | UNION SELECT $b, $a FROM $pairs
       | UNION SELECT $a, $a FROM $pairs
       | UNION SELECT $b, $b FROM $pairs),
       |reach AS (
       | SELECT a, b FROM edges
       | UNION
       | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)""".stripMargin

  def oracle: Map[String, String] = {
    val mhExprs = A.indices.map { j =>
      s"list_min(list_transform(toks, t -> (${A(j)} * $duckTokHash + ${B(j)}) % 2147483647)) AS mh$j"
    }.mkString(",\n ")

    // Shared CTE chain: LSH-banded candidate pairs verified at jac >= 0.7
    // (the DuckDB twin of d03's plan; d06's closure builds on it).
    def lshPairCtesFrom(src: String) =
      s"""sig AS (
         | SELECT doc_id, source,
         |  list_distinct(list_transform(string_split(text,' '), t -> $duckTokHash)) AS tset,
         |  [${A.indices.map(j => s"list_min(list_transform(string_split(text,' '), t -> (${A(j)} * $duckTokHash + ${B(j)}) % 2147483647))").mkString(", ")}] AS sig
         | FROM $src),
         |bands0 AS (
         | SELECT doc_id, source, tset, generate_subscripts(sig,1)-1 AS band, unnest(sig) AS mh
         | FROM sig),
         |bpop AS (
         | SELECT source, band, mh, COUNT(*) AS pop
         | FROM bands0 GROUP BY source, band, mh),
         |bands AS (
         | SELECT b.doc_id, b.source, b.tset, b.band, b.mh
         | FROM bands0 b JOIN bpop p
         |  ON b.source = p.source AND b.band = p.band AND b.mh = p.mh
         | WHERE p.pop <= $BandCap),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.tset AS ta, b.tset AS tb
         | FROM bands a JOIN bands b
         |  ON a.source = b.source AND a.band = b.band AND a.mh = b.mh
         |     AND a.doc_id < b.doc_id),
         |dup_pairs AS (
         | SELECT da, db,
         |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jac
         | FROM cand
         | WHERE CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    (len(ta) + len(tb) - len(list_intersect(ta, tb))) >= 0.7)""".stripMargin
    val lshPairCtes = lshPairCtesFrom("documents")
    // The pairs' components: `comp` (doc_id, cluster = min doc_id).
    def lshCompCtesFrom(src: String) =
      s"""${lshPairCtesFrom(src)},
         |${duckCcCtes("dup_pairs", "da", "db")},
         |comp AS (
         | SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster
         | FROM reach GROUP BY a)""".stripMargin
    val lshCompCtes = lshCompCtesFrom("documents")
    // d24/d24b's shared prefix: t07 filter, exact canonical (`uniq`),
    // near-dup components over the survivors, keep-best per cluster
    // (`kept`); d24b carries `text` through for its span pass.
    def pipelineKeptCtes(withText: Boolean) = {
      val (text, uText) = if (withText) ("text, ", "u.text, ") else ("", "")
      s"""WITH RECURSIVE ${TextAnalysis.keepFiltCteSql},
         |uniq AS (
         | SELECT doc_id, source, text, n_toks, h FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id)
         |    AS rn
         |  FROM filt) t WHERE rn = 1),
         |${lshCompCtesFrom("uniq")},
         |labeled AS (
         | SELECT u.doc_id, u.source, ${uText}u.n_toks, u.h,
         |  COALESCE(c.cluster, u.doc_id) AS cluster
         | FROM uniq u LEFT JOIN comp c ON u.doc_id = c.doc_id),
         |kept AS (
         | SELECT doc_id, source, ${text}n_toks, h FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_toks DESC, doc_id) AS rnk FROM labeled) t
         | WHERE rnk = 1)""".stripMargin
    }
    // d24/d24b's shared tail over `src` (doc_id, source, n_toks, h): the
    // greedy per-source quota in hash order, epoch shard, packing.
    def pipelinePackCtes(src: String) =
      s"""mixq AS (
         | SELECT doc_id, n_toks,
         |  COALESCE(SUM(n_toks) OVER (PARTITION BY source
         |    ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_before
         | FROM $src),
         |mixed AS (
         | SELECT doc_id, n_toks FROM mixq WHERE cum_before < 40000),
         |sh AS (
         | SELECT doc_id, n_toks,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep1'),
         |    1, 15))::BIGINT % 32 AS shard,
         |  COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_before
         | FROM mixed),
         |packed AS (
         | SELECT doc_id, n_toks, shard,
         |  CAST(cum_before // 512 AS BIGINT) AS seq_id,
         |  CAST(GREATEST(cum_before + n_toks
         |    - (cum_before // 512 + 1) * 512, 0) AS BIGINT) AS spill
         | FROM sh)
         |SELECT seq_id, COUNT(*) AS n_docs,
         | CAST(SUM(n_toks) AS BIGINT) AS doc_toks,
         | CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         | CAST(MAX(doc_id) AS BIGINT) AS last_doc,
         | CAST(SUM(spill) AS BIGINT) AS spill_toks,
         | COUNT(DISTINCT shard) AS n_shards
         |FROM packed GROUP BY seq_id ORDER BY seq_id""".stripMargin

    val bitSums = (0 until 16).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n  ")
    val bitVal = (0 until 16).map(j =>
      s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")

    Map(
      "d01_exact_dedup" ->
        """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "d02_minhash_sig" ->
        s"""SELECT doc_id,
           | $mhExprs
           |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
           |ORDER BY doc_id""".stripMargin,

      "d03_minhash_lsh_pairs" ->
        s"""WITH $lshPairCtes
           |SELECT da, db, jac FROM dup_pairs ORDER BY da, db""".stripMargin,

      "d06_dup_clusters" ->
        s"""WITH RECURSIVE $lshPairCtes,
           |${duckCcCtes("dup_pairs", "da", "db")}
           |SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster
           |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

      "d09_contamination" ->
        """WITH h AS (
          | SELECT doc_id, source,
          |  md5(array_to_string(list_slice(string_split(text, ' '), 1, 30), ' ')) AS h
          | FROM documents)
          |SELECT a.source AS sa, b.source AS sb,
          | COUNT(*) AS n_leaks,
          | COUNT(DISTINCT a.doc_id) AS n_docs_a
          |FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
          |GROUP BY 1, 2 ORDER BY sa, sb""".stripMargin,

      "d11_minhash_calibration" ->
        s"""WITH $lshPairCtes,
           |m AS (
           | SELECT doc_id,
           |  $mhExprs
           | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t)
           |SELECT da, db, jac,
           | ((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END)) / 4.0 AS est_sim,
           | abs(jac - ((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
           |   CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END)) / 4.0) AS abs_err
           |FROM dup_pairs
           | JOIN m a ON da = a.doc_id
           | JOIN m b ON db = b.doc_id
           |ORDER BY da, db""".stripMargin,

      "d10_chunk_dedup" ->
        """WITH d AS (
          | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |c AS (
          | SELECT doc_id, tk,
          |  unnest(range(0, greatest(len(tk) - 1, 0) + 1, 40)) AS idx
          | FROM d),
          |ch AS (
          | SELECT doc_id, CAST(idx AS BIGINT) AS idx,
          |  md5(array_to_string(list_slice(tk, idx + 1, idx + 50), ' ')) AS h,
          |  {'doc_id': doc_id, 'idx': CAST(idx AS BIGINT)} AS key
          | FROM c),
          |canon AS (SELECT h, MIN(key) AS ck FROM ch GROUP BY h)
          |SELECT ch.doc_id,
          | COUNT(*) AS n_chunks,
          | CAST(SUM(CASE WHEN key <> ck THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          | CAST(SUM(CASE WHEN key <> ck THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
          |FROM ch JOIN canon ON ch.h = canon.h
          |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,

      "d12_paragraph_dedup" ->
        """WITH d AS (
          | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |c AS (
          | SELECT doc_id, tk,
          |  unnest(range(0, greatest(len(tk) - 1, 0) + 1, 20)) AS idx
          | FROM d),
          |ph AS (
          | SELECT doc_id, CAST(idx AS BIGINT) AS idx,
          |  array_to_string(list_slice(tk, idx + 1, idx + 20), ' ') AS p,
          |  md5(array_to_string(list_slice(tk, idx + 1, idx + 20), ' ')) AS h,
          |  {'doc_id': doc_id, 'idx': CAST(idx AS BIGINT)} AS key
          | FROM c),
          |canon AS (SELECT h, MIN(key) AS ck FROM ph GROUP BY h)
          |SELECT ph.doc_id,
          | COUNT(*) AS n_paras,
          | CAST(SUM(CASE WHEN key = ck THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          | COALESCE(string_agg(CASE WHEN key = ck THEN p END, ' ' ORDER BY idx), '') AS clean_text
          |FROM ph JOIN canon ON ph.h = canon.h
          |GROUP BY ph.doc_id ORDER BY ph.doc_id""".stripMargin,

      "d08_stratified_sample" ->
        """WITH h AS (
          | SELECT doc_id, lang, md5(text) AS h FROM documents),
          |r AS (
          | SELECT lang, doc_id, h,
          |  CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rnk
          | FROM h)
          |SELECT lang, rnk, doc_id, h FROM r WHERE rnk <= 10
          |ORDER BY lang, rnk""".stripMargin,

      "d13_mix_quota" ->
        """WITH h AS (
          | SELECT doc_id, source, md5(text) AS h,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          | FROM documents),
          |c AS (
          | SELECT source, n_toks,
          |  COALESCE(SUM(n_toks) OVER (PARTITION BY source
          |    ORDER BY h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS cum_before
          | FROM h)
          |SELECT source, COUNT(*) AS n_pool,
          | CAST(SUM(CASE WHEN cum_before < 40000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          | CAST(SUM(CASE WHEN cum_before < 40000 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept,
          | CAST(SUM(n_toks) AS BIGINT) AS tokens_pool
          |FROM c GROUP BY source ORDER BY source""".stripMargin,

      "d16_signal_compare" -> {
        val shHash = shingleHashSqlDuck.format(
          "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]")
        val bitSums16 = (0 until 16).map(j =>
          s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
          .mkString(",\n  ")
        val bitVal16 = (0 until 16).map(j =>
          s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH $lshPairCtes,
           |d AS (
           | SELECT doc_id, string_split(text, ' ') AS toks
           | FROM documents),
           |shr AS (
           | SELECT doc_id,
           |  list_distinct(list_transform(range(len(toks) - 2),
           |    i -> $shHash)) AS shs
           | FROM d),
           |ex16 AS (
           | SELECT doc_id, $duckTokHash AS h
           | FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t
           |       FROM documents)),
           |bits16 AS (
           | SELECT doc_id,
           |  $bitSums16
           | FROM ex16 GROUP BY doc_id),
           |simtab AS (
           | SELECT doc_id, $bitVal16 AS sh16 FROM bits16)
           |SELECT p.da, p.db, p.jac,
           | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
           |   (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
           |   AS sh_jac,
           | CAST(bit_count(xor(sa.sh16, sb.sh16)) AS BIGINT) AS hamming
           |FROM dup_pairs p
           | JOIN shr x ON p.da = x.doc_id
           | JOIN shr y ON p.db = y.doc_id
           | JOIN simtab sa ON p.da = sa.doc_id
           | JOIN simtab sb ON p.db = sb.doc_id
           |ORDER BY p.da, p.db""".stripMargin
      },

      "d15_banding_sweep" -> {
        val jac = "CAST(len(list_intersect(ta, tb)) AS DOUBLE) / " +
          "(len(ta) + len(tb) - len(list_intersect(ta, tb)))"
        def pair(name: String, cond: String): String =
          s"""$name AS (
             | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             |  a.tset AS ta, b.tset AS tb
             | FROM sig a JOIN sig b
             |  ON a.source = b.source AND a.doc_id < b.doc_id AND ($cond)),
             |s$name AS (
             | SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
             |  CAST(SUM(CASE WHEN $jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_true
             | FROM $name)""".stripMargin
        val sigCte =
          s"""sig AS (
             | SELECT doc_id, source,
             |  list_distinct(list_transform(string_split(text,' '), t -> $duckTokHash)) AS tset,
             |  [${A.indices.map(j => s"list_min(list_transform(string_split(text,' '), t -> (${A(j)} * $duckTokHash + ${B(j)}) % 2147483647))").mkString(", ")}] AS sig
             | FROM documents)""".stripMargin
        s"""WITH $sigCte,
           |${pair("p1", (1 to 4).map(i => s"a.sig[$i] = b.sig[$i]").mkString(" OR "))},
           |${pair("p2", "(a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2]) " +
              "OR (a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4])")},
           |${pair("p4", (1 to 4).map(i => s"a.sig[$i] = b.sig[$i]").mkString(" AND "))}
           |SELECT config, n_bands, n_rows, n_cand, n_true,
           | CAST(n_true AS DOUBLE) / n_cand AS precision,
           | CAST(n_true AS DOUBLE) / ref_true AS recall
           |FROM (
           | SELECT 'b4r1' AS config, CAST(4 AS BIGINT) AS n_bands,
           |  CAST(1 AS BIGINT) AS n_rows, n_cand, n_true FROM sp1
           | UNION ALL
           | SELECT 'b2r2', 2, 2, n_cand, n_true FROM sp2
           | UNION ALL
           | SELECT 'b1r4', 1, 4, n_cand, n_true FROM sp4),
           | (SELECT n_true AS ref_true FROM sp1)
           |ORDER BY config""".stripMargin
      },

      "d17_cdc_dedup" -> {
        val tkHash = tokHashSqlDuck.format("tk[i+1]")
        s"""WITH d AS (
           | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |b AS (
           | SELECT doc_id, tk,
           |  list_filter(range(len(tk)), i -> $tkHash % 16 = 0) AS bp
           | FROM d),
           |se AS (
           | SELECT doc_id, tk,
           |  [0] || list_transform(bp, p -> p + 1) AS starts,
           |  bp || [len(tk) - 1] AS ends
           | FROM b),
           |ch AS (
           | SELECT doc_id,
           |  unnest(list_filter(list_transform(range(len(starts)),
           |    j -> {'idx': CAST(j AS BIGINT),
           |          'h': md5(array_to_string(
           |                 list_slice(tk, starts[j+1] + 1, ends[j+1] + 1),
           |                 ' ')),
           |          'ok': ends[j+1] >= starts[j+1]}),
           |    x -> x.ok)) AS c
           | FROM se),
           |cx AS (
           | SELECT doc_id, c.idx AS idx, c.h AS h,
           |  {'doc_id': doc_id, 'idx': c.idx} AS key
           | FROM ch),
           |canon AS (SELECT h, MIN(key) AS ck FROM cx GROUP BY h)
           |SELECT cx.doc_id,
           | COUNT(*) AS n_chunks,
           | CAST(SUM(CASE WHEN key <> ck THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_dup,
           | CAST(SUM(CASE WHEN key <> ck THEN 1 ELSE 0 END) AS DOUBLE)
           |   / COUNT(*) AS dup_frac
           |FROM cx JOIN canon ON cx.h = canon.h
           |GROUP BY cx.doc_id ORDER BY cx.doc_id""".stripMargin
      },

      "d19_prefix_filter_pairs" ->
        s"""WITH d AS (
           | SELECT doc_id, source,
           |  list_distinct(list_transform(string_split(text, ' '),
           |    t -> $duckTokHash)) AS tset
           | FROM documents),
           |ex AS (SELECT doc_id, source, unnest(tset) AS h FROM d),
           |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
           |ord AS (
           | SELECT doc_id, source,
           |  list({'df': df, 'h': h} ORDER BY df, h) AS ord,
           |  COUNT(*) AS sz
           | FROM ex JOIN dfreq USING (h) GROUP BY doc_id, source),
           |pref AS (
           | SELECT doc_id, source, sz,
           |  unnest(list_slice(ord, 1,
           |    CAST(sz - (sz * 7 + 9) // 10 + 1 AS INT))) AS p
           | FROM ord),
           |ph AS (SELECT doc_id, source, sz, p.h AS h FROM pref),
           |cand AS (
           | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           | FROM ph a JOIN ph b
           |  ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
           |   AND a.sz * 7 <= b.sz * 10 AND b.sz * 7 <= a.sz * 10)
           |SELECT da, db,
           | CAST(len(list_intersect(x.tset, y.tset)) AS DOUBLE) /
           |   (len(x.tset) + len(y.tset) - len(list_intersect(x.tset, y.tset)))
           |   AS jac
           |FROM cand JOIN d x ON da = x.doc_id JOIN d y ON db = y.doc_id
           |WHERE CAST(len(list_intersect(x.tset, y.tset)) AS DOUBLE) /
           |   (len(x.tset) + len(y.tset) - len(list_intersect(x.tset, y.tset)))
           |   >= 0.7
           |ORDER BY da, db""".stripMargin,

      "d22_ppjoin_filter_audit" ->
        s"""WITH d AS (
           | SELECT doc_id, source,
           |  list_distinct(list_transform(string_split(text, ' '),
           |    t -> $duckTokHash)) AS tset
           | FROM documents),
           |ex AS (SELECT doc_id, source, unnest(tset) AS h FROM d),
           |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
           |ord AS (
           | SELECT doc_id, source,
           |  list({'df': df, 'h': h} ORDER BY df, h) AS ord,
           |  COUNT(*) AS sz
           | FROM ex JOIN dfreq USING (h) GROUP BY doc_id, source),
           |pref AS (
           | SELECT doc_id, source, sz,
           |  generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS p
           | FROM (SELECT doc_id, source, sz,
           |        list_slice(ord, 1,
           |          CAST(sz - (sz * 7 + 9) // 10 + 1 AS INT)) AS sl
           |       FROM ord)),
           |ph AS (SELECT doc_id, source, sz, pos, p.h AS h FROM pref),
           |coll AS (
           | SELECT a.source, a.doc_id AS da, b.doc_id AS db,
           |  CASE WHEN a.sz * 7 <= b.sz * 10 AND b.sz * 7 <= a.sz * 10
           |   THEN 1 ELSE 0 END AS len_ok,
           |  CASE WHEN a.sz * 7 <= b.sz * 10 AND b.sz * 7 <= a.sz * 10
           |   AND (LEAST(a.pos, b.pos) + 1 +
           |        LEAST(a.sz - a.pos - 1, b.sz - b.pos - 1)) * 17
           |       >= (a.sz + b.sz) * 7
           |   THEN 1 ELSE 0 END AS pos_ok
           | FROM ph a JOIN ph b
           |  ON a.source = b.source AND a.h = b.h
           |   AND a.doc_id < b.doc_id),
           |pairs AS (
           | SELECT source, da, db,
           |  CAST(MAX(len_ok) AS BIGINT) AS len_ok,
           |  CAST(MAX(pos_ok) AS BIGINT) AS pos_ok
           | FROM coll GROUP BY source, da, db),
           |wj AS (
           | SELECT p.source, p.len_ok, p.pos_ok,
           |  CAST(len(list_intersect(x.tset, y.tset)) AS DOUBLE) /
           |    (len(x.tset) + len(y.tset)
           |     - len(list_intersect(x.tset, y.tset))) AS jac
           | FROM pairs p JOIN d x ON p.da = x.doc_id
           |  JOIN d y ON p.db = y.doc_id)
           |SELECT source,
           | COUNT(*) AS n_cand_prefix,
           | CAST(SUM(len_ok) AS BIGINT) AS n_cand_len,
           | CAST(SUM(pos_ok) AS BIGINT) AS n_cand_lenpos,
           | CAST(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_verified,
           | CAST(SUM(CASE WHEN jac >= 0.7 AND pos_ok = 1 THEN 1 ELSE 0 END)
           |   AS BIGINT) AS n_verified_lenpos
           |FROM wj GROUP BY source ORDER BY source""".stripMargin,

      "d18_incremental_dedup" -> oracleD18,

      // d21 computes exactly d18's report (the index is a materialized
      // view of the corpus side, not a semantic change), so its oracle
      // is d18's SQL verbatim — DuckDB recomputes the index inline.
      "d21_indexed_ingest" -> oracleD18,

      // d23 partitions the corpus side into base+delta segments, which
      // is invisible to semantics — the probe is over base ∪ delta =
      // the same standing corpus d18/d21 see.
      "d23_index_delta_append" -> oracleD18,

      // d43 compacts d23's segments back into one artifact — by
      // construction the same standing corpus again, so the same SQL.
      "d43_index_compaction" -> oracleD18,

      // d24: the full pipeline unrolled — t07 filter, exact canonical,
      // near-dup mining over survivors (the shared pair CTEs, sourced
      // from `uniq` instead of the raw corpus), recursive CC + keep
      // best, greedy per-source quota in hash order (the ONE-window
      // form the two-grain Spark prefix must equal), shard + packing.
      "d24_training_pipeline" ->
        s"""${pipelineKeptCtes(withText = false)},
           |${pipelinePackCtes("kept")}""".stripMargin,

      "d24b_pipeline_spans" ->
        s"""${pipelineKeptCtes(withText = true)},
           |spk AS (
           | SELECT doc_id, string_split(text, ' ') AS tk FROM kept),
           |soc AS (
           | SELECT doc_id, CAST(p AS BIGINT) AS p,
           |  ${shingleHashSqlDuck.format(
                s"array_to_string(list_slice(tk, p, p + ${DupSpanK - 1}), ' ')")} AS fh
           | FROM (SELECT doc_id, tk,
           |   unnest(range(1, greatest(len(tk) - ${DupSpanK - 1}, 0) + 1))
           |     AS p
           |  FROM spk)),
           |sdup AS (SELECT fh FROM soc GROUP BY fh HAVING COUNT(*) >= 2),
           |smarks AS (SELECT o.doc_id, o.p FROM soc o JOIN sdup USING (fh)),
           |sisl AS (
           | SELECT doc_id, p,
           |  CASE WHEN p > COALESCE(MAX(p + ${DupSpanK - 1}) OVER (
           |    PARTITION BY doc_id ORDER BY p
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           |   THEN 1 ELSE 0 END AS st
           | FROM smarks),
           |sisl2 AS (
           | SELECT doc_id, p,
           |  SUM(st) OVER (PARTITION BY doc_id ORDER BY p) AS island
           | FROM sisl),
           |sspans AS (
           | SELECT doc_id, island, MIN(p) AS sp,
           |  MAX(p) + ${DupSpanK - 1} AS ep
           | FROM sisl2 GROUP BY doc_id, island),
           |sper AS (
           | SELECT doc_id, CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_toks
           | FROM sspans GROUP BY doc_id),
           |cleaned AS (
           | SELECT k.doc_id, k.source,
           |  k.n_toks - COALESCE(s.dup_toks, 0) AS n_toks, k.h
           | FROM kept k LEFT JOIN sper s ON k.doc_id = s.doc_id),
           |${pipelinePackCtes("cleaned")}""".stripMargin,

      "d20_normalized_dedup" ->
        """WITH n AS (
          | SELECT source, md5(text) AS rh,
          |  md5(trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh
          | FROM documents)
          |SELECT source, COUNT(*) AS n_docs,
          | COUNT(DISTINCT rh) AS n_raw_unique,
          | COUNT(DISTINCT nh) AS n_norm_unique,
          | COUNT(DISTINCT rh) - COUNT(DISTINCT nh) AS n_merged_by_norm
          |FROM n GROUP BY source ORDER BY source""".stripMargin,

      "d14_epoch_shards" ->
        """WITH h AS (
          | SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep1'), 1, 15))::BIGINT
          |    % 32 AS shard
          | FROM documents)
          |SELECT shard, COUNT(*) AS n_docs,
          | CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          | CAST(MIN(doc_id) AS BIGINT) AS min_doc,
          | CAST(MAX(doc_id) AS BIGINT) AS max_doc
          |FROM h GROUP BY shard ORDER BY shard""".stripMargin,

      "d25_cluster_safe_split" ->
        s"""WITH RECURSIVE $lshCompCtes,
           |docs AS (
           | SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks
           | FROM documents WHERE text IS NOT NULL),
           |asg AS (
           | SELECT d.doc_id, d.n_toks,
           |  COALESCE(c.cluster, d.doc_id) AS cluster,
           |  CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':split'),1,15))::BIGINT % 10 < 9
           |   THEN 'train' ELSE 'val' END AS sp_naive,
           |  CASE WHEN ('0x' || substr(md5(CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR) || ':split'),1,15))::BIGINT % 10 < 9
           |   THEN 'train' ELSE 'val' END AS sp_cluster
           | FROM docs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
           |cnt AS (
           | SELECT
           |  CAST(SUM(CASE WHEN sp_naive = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tr_n,
           |  CAST(SUM(CASE WHEN sp_naive = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS va_n,
           |  CAST(SUM(CASE WHEN sp_naive = 'train' THEN n_toks ELSE 0 END) AS BIGINT) AS trt_n,
           |  CAST(SUM(CASE WHEN sp_naive = 'val' THEN n_toks ELSE 0 END) AS BIGINT) AS vat_n,
           |  CAST(SUM(CASE WHEN sp_cluster = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tr_c,
           |  CAST(SUM(CASE WHEN sp_cluster = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS va_c,
           |  CAST(SUM(CASE WHEN sp_cluster = 'train' THEN n_toks ELSE 0 END) AS BIGINT) AS trt_c,
           |  CAST(SUM(CASE WHEN sp_cluster = 'val' THEN n_toks ELSE 0 END) AS BIGINT) AS vat_c
           | FROM asg),
           |leaks AS (
           | SELECT
           |  CAST(COALESCE(SUM(CASE WHEN a.sp_naive <> b.sp_naive THEN 1 ELSE 0 END), 0) AS BIGINT) AS ln,
           |  CAST(COALESCE(SUM(CASE WHEN a.sp_cluster <> b.sp_cluster THEN 1 ELSE 0 END), 0) AS BIGINT) AS lc
           | FROM dup_pairs p JOIN asg a ON p.da = a.doc_id
           |  JOIN asg b ON p.db = b.doc_id),
           |strad AS (
           | SELECT
           |  CAST(SUM(CASE WHEN mn <> xn THEN 1 ELSE 0 END) AS BIGINT) AS sn,
           |  CAST(SUM(CASE WHEN mc <> xc THEN 1 ELSE 0 END) AS BIGINT) AS sc
           | FROM (SELECT cluster,
           |   MIN(sp_naive) AS mn, MAX(sp_naive) AS xn,
           |   MIN(sp_cluster) AS mc, MAX(sp_cluster) AS xc
           |  FROM asg GROUP BY cluster))
           |SELECT 'cluster' AS policy, tr_c AS n_train_docs,
           | va_c AS n_val_docs, trt_c AS n_train_tokens,
           | vat_c AS n_val_tokens, lc AS n_leak_pairs,
           | sc AS n_straddle_clusters
           |FROM cnt, leaks, strad
           |UNION ALL
           |SELECT 'naive', tr_n, va_n, trt_n, vat_n, ln, sn
           |FROM cnt, leaks, strad
           |ORDER BY policy""".stripMargin,

      "d26_dup_span_removal" ->
        s"""WITH d AS (
           | SELECT doc_id, source, string_split(text, ' ') AS tk
           | FROM documents WHERE text IS NOT NULL),
           |tot AS (
           | SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(len(tk)) AS BIGINT) AS total_tokens
           | FROM d GROUP BY source),
           |occ AS (
           | SELECT doc_id, source, CAST(p AS BIGINT) AS p,
           |  ${shingleHashSqlDuck.format(
                s"array_to_string(list_slice(tk, p, p + ${DupSpanK - 1}), ' ')")} AS h
           | FROM (SELECT doc_id, source, tk,
           |   unnest(range(1, greatest(len(tk) - ${DupSpanK - 1}, 0) + 1)) AS p
           |  FROM d)),
           |dup AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
           |marks AS (SELECT o.doc_id, o.source, o.p FROM occ o JOIN dup USING (h)),
           |isl AS (
           | SELECT doc_id, source, p,
           |  CASE WHEN p > COALESCE(MAX(p + ${DupSpanK - 1}) OVER (
           |    PARTITION BY doc_id ORDER BY p
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
           |   THEN 1 ELSE 0 END AS st
           | FROM marks),
           |isl2 AS (
           | SELECT doc_id, source, p,
           |  SUM(st) OVER (PARTITION BY doc_id ORDER BY p) AS island
           | FROM isl),
           |spans AS (
           | SELECT doc_id, source, island, MIN(p) AS sp,
           |  MAX(p) + ${DupSpanK - 1} AS ep
           | FROM isl2 GROUP BY doc_id, source, island),
           |per_doc AS (
           | SELECT doc_id, source, COUNT(*) AS n_spans,
           |  SUM(ep - sp + 1) AS dup_toks
           | FROM spans GROUP BY doc_id, source),
           |per_src AS (
           | SELECT source, COUNT(*) AS n_dup_docs,
           |  CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           |  CAST(SUM(dup_toks) AS BIGINT) AS dup_tokens
           | FROM per_doc GROUP BY source)
           |SELECT t.source, t.n_docs,
           | CAST(COALESCE(p.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
           | CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           | CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           | t.total_tokens
           |FROM tot t LEFT JOIN per_src p USING (source)
           |ORDER BY source""".stripMargin,

      "d27_bloom_ingest" -> {
        def bit(e: String, j: Int): String =
          s"(('0x' || substr(md5($e || '#$j'), 1, 8))::BIGINT % 4096)"
        s"""WITH h AS (
           | SELECT doc_id, md5(text) AS ch FROM documents),
           |bits AS (
           | SELECT DISTINCT sb FROM (
           |  SELECT unnest([${bit("ch", 0)}, ${bit("ch", 1)},
           |    ${bit("ch", 2)}]) AS sb
           |  FROM h WHERE doc_id % 7 <> 0)),
           |corpus AS (
           | SELECT DISTINCT ch AS cch FROM h WHERE doc_id % 7 <> 0),
           |batch AS (
           | SELECT doc_id, ch, ${bit("ch", 0)} AS b0,
           |  ${bit("ch", 1)} AS b1, ${bit("ch", 2)} AS b2
           | FROM h WHERE doc_id % 7 = 0)
           |SELECT b.doc_id,
           | CAST(CASE WHEN t0.sb IS NOT NULL AND t1.sb IS NOT NULL
           |   AND t2.sb IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |  AS bloom_pass,
           | CAST(CASE WHEN c.cch IS NOT NULL THEN 1 ELSE 0 END
           |   AS BIGINT) AS exact_dup
           |FROM batch b
           | LEFT JOIN bits t0 ON b.b0 = t0.sb
           | LEFT JOIN bits t1 ON b.b1 = t1.sb
           | LEFT JOIN bits t2 ON b.b2 = t2.sb
           | LEFT JOIN corpus c ON b.ch = c.cch
           |ORDER BY b.doc_id""".stripMargin
      },

      "d28_pagerank_authority" -> {
        def iter(prev: String, name: String): String =
          s"""$name AS (
             | SELECT e.dst AS id,
             |  150000 + (85 * SUM(p.r // g.d)) // 100 AS r
             | FROM edges e
             |  JOIN $prev p ON e.src = p.id
             |  JOIN deg g ON e.src = g.src
             | GROUP BY e.dst)""".stripMargin
        s"""WITH $lshPairCtes,
           |edges AS (
           | SELECT da AS src, db AS dst FROM dup_pairs
           | UNION ALL SELECT db, da FROM dup_pairs),
           |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
           |pr0 AS (
           | SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
           |${iter("pr0", "pr1")},
           |${iter("pr1", "pr2")},
           |${iter("pr2", "pr3")},
           |nbr AS (
           | SELECT e.src, MAX({'nr': p.r, 'nni': -p.id}) AS best
           | FROM edges e JOIN pr3 p ON e.dst = p.id GROUP BY e.src)
           |SELECT p.id AS doc_id, g.d AS degree,
           | CAST(p.r AS BIGINT) AS pr,
           | CAST(CASE WHEN {'nr': p.r, 'nni': -p.id} > n.best
           |  THEN 1 ELSE 0 END AS BIGINT) AS is_peak
           |FROM pr3 p
           | JOIN deg g ON p.id = g.src
           | JOIN nbr n ON p.id = n.src
           |ORDER BY doc_id""".stripMargin
      },

      "d29_triangle_cc" ->
        s"""WITH $lshPairCtes,
           |eo AS (SELECT da AS a, db AS b FROM dup_pairs),
           |sym AS (SELECT a, b FROM eo UNION ALL SELECT b, a FROM eo),
           |deg AS (SELECT a AS id, COUNT(*) AS degree FROM sym GROUP BY a),
           |dedge AS (
           | SELECT CASE WHEN lt THEN a ELSE b END AS u,
           |  CASE WHEN lt THEN b ELSE a END AS v,
           |  CASE WHEN lt THEN dgb ELSE dga END AS dv
           | FROM (
           |  SELECT eo.a, eo.b, dx.degree AS dga, dy.degree AS dgb,
           |   (dx.degree < dy.degree OR
           |    (dx.degree = dy.degree AND eo.a < eo.b)) AS lt
           |  FROM eo JOIN deg dx ON eo.a = dx.id
           |   JOIN deg dy ON eo.b = dy.id) t),
           |tri AS (
           | SELECT w1.u AS a, w1.v AS b, w2.v AS c
           | FROM dedge w1 JOIN dedge w2 ON w1.u = w2.u
           |  AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
           | JOIN dedge cl ON cl.u = w1.v AND cl.v = w2.v),
           |tv AS (SELECT unnest([a, b, c]) AS id FROM tri),
           |tc AS (SELECT id, COUNT(*) AS t FROM tv GROUP BY id)
           |SELECT d.id AS doc_id, CAST(d.degree AS BIGINT) AS degree,
           | CAST(COALESCE(tc.t, 0) AS BIGINT) AS triangles,
           | CAST(CASE WHEN d.degree >= 2
           |  THEN (2 * COALESCE(tc.t, 0) * 10000)
           |       // (d.degree * (d.degree - 1))
           |  ELSE 0 END AS BIGINT) AS cc_bp
           |FROM deg d LEFT JOIN tc ON d.id = tc.id
           |ORDER BY doc_id""".stripMargin,

      // d29b: the same degree-ordered triangle core as d29, run over
      // the deterministically p=1/4-thinned edge set (md5 coin — the
      // d14 shard arithmetic), re-aggregated to log2-degree buckets of
      // the FULL graph with the ×64 Doulion correction.
      "d29b_triangle_sampled" ->
        s"""WITH $lshPairCtes,
           |eo AS (SELECT da AS a, db AS b FROM dup_pairs),
           |ke AS (
           | SELECT a, b FROM eo
           | WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || ':' ||
           |   CAST(b AS VARCHAR) || ':ts1'), 1, 15))::BIGINT % 4 = 0),
           |ksym AS (SELECT a, b FROM ke UNION ALL SELECT b, a FROM ke),
           |kdeg AS (
           | SELECT a AS id, COUNT(*) AS degree FROM ksym GROUP BY a),
           |kdedge AS (
           | SELECT CASE WHEN lt THEN a ELSE b END AS u,
           |  CASE WHEN lt THEN b ELSE a END AS v,
           |  CASE WHEN lt THEN dgb ELSE dga END AS dv
           | FROM (
           |  SELECT ke.a, ke.b, dx.degree AS dga, dy.degree AS dgb,
           |   (dx.degree < dy.degree OR
           |    (dx.degree = dy.degree AND ke.a < ke.b)) AS lt
           |  FROM ke JOIN kdeg dx ON ke.a = dx.id
           |   JOIN kdeg dy ON ke.b = dy.id) t),
           |ktri AS (
           | SELECT w1.u AS a, w1.v AS b, w2.v AS c
           | FROM kdedge w1 JOIN kdedge w2 ON w1.u = w2.u
           |  AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
           | JOIN kdedge cl ON cl.u = w1.v AND cl.v = w2.v),
           |ktv AS (SELECT unnest([a, b, c]) AS id FROM ktri),
           |ktc AS (SELECT id, COUNT(*) AS t FROM ktv GROUP BY id),
           |sym AS (SELECT a, b FROM eo UNION ALL SELECT b, a FROM eo),
           |deg AS (
           | SELECT a AS id, COUNT(*) AS degree FROM sym GROUP BY a),
           |j AS (
           | SELECT d.id, d.degree, COALESCE(ktc.t, 0) AS t3
           | FROM deg d LEFT JOIN ktc ON d.id = ktc.id),
           |bkt AS (
           | SELECT CAST(length(bin(degree)) AS BIGINT) AS deg_bucket,
           |  CAST(COUNT(*) AS BIGINT) AS n_vertices,
           |  CAST(SUM(degree) AS BIGINT) AS sum_degree,
           |  CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS wedges,
           |  CAST(SUM(t3) AS BIGINT) AS t3_sampled
           | FROM j GROUP BY 1)
           |SELECT deg_bucket, n_vertices, sum_degree, wedges,
           | t3_sampled,
           | CAST(t3_sampled * 64 AS BIGINT) AS t3_est,
           | CAST(CASE WHEN wedges > 0
           |  THEN (t3_sampled * 64 * 10000) // wedges
           |  ELSE 0 END AS BIGINT) AS cc_bp_est
           |FROM bkt ORDER BY deg_bucket""".stripMargin,

      "d30_importance_select" -> {
        val bg = shingleHashSqlDuck.format("toks[i+1] || ' ' || toks[i+2]")
        s"""WITH d AS (
           | SELECT doc_id, lang, string_split(text, ' ') AS toks
           | FROM documents WHERE text IS NOT NULL),
           |bi AS (
           | SELECT doc_id, lang,
           |  unnest(list_transform(range(len(toks) - 1),
           |    i -> $bg % 4096)) AS b
           | FROM d),
           |rc AS (SELECT b, COUNT(*) AS rc FROM bi GROUP BY b),
           |tcn AS (
           | SELECT b, COUNT(*) AS tc FROM bi WHERE lang = 'en'
           | GROUP BY b),
           |w AS (
           | SELECT r.b,
           |  ((COALESCE(t.tc, 0) + 1) * 10000) // (r.rc + 1) AS w
           | FROM rc r LEFT JOIN tcn t ON r.b = t.b),
           |sc AS (
           | SELECT bi.doc_id, COUNT(*) AS n_bigrams, SUM(w.w) AS score
           | FROM bi JOIN w ON bi.b = w.b GROUP BY bi.doc_id),
           |ranked AS (
           | SELECT d.lang, d.doc_id,
           |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
           |  CAST(row_number() OVER (PARTITION BY d.lang
           |    ORDER BY COALESCE(sc.score, 0) DESC, d.doc_id)
           |   AS BIGINT) AS rnk
           | FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id)
           |SELECT lang, rnk, doc_id, n_bigrams, score
           |FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin
      },

      "d31_fuzzy_entity" ->
        """WITH q AS (
          | SELECT c_custkey AS qk, c_name AS qn FROM customer
          | WHERE c_custkey < 30),
          |cand AS (
          | SELECT c_custkey AS ck, c_name AS cn FROM customer
          | WHERE c_custkey < 500),
          |p AS (
          | SELECT qk, ck, CAST(levenshtein(qn, cn) AS BIGINT) AS dist,
          |  row_number() OVER (PARTITION BY qk
          |    ORDER BY levenshtein(qn, cn), ck) AS rn
          | FROM q JOIN cand ON qk <> ck)
          |SELECT qk AS c_custkey, ck AS match_key, dist
          |FROM p WHERE rn = 1 ORDER BY c_custkey""".stripMargin,

      "d31b_blocked_entity" ->
        """WITH b AS (
          | SELECT doc_id, substr(text, 1, 24) AS en FROM documents
          | WHERE text IS NOT NULL AND length(text) >= 24),
          |e AS (
          | SELECT doc_id AS ek, en, FALSE AS is_probe FROM b
          | UNION ALL
          | SELECT doc_id + 1000000000 AS ek,
          |  substr(en, 1, CAST(doc_id % 20 + 1 AS INT)) ||
          |   substr(en, CAST(doc_id % 20 + 3 AS INT), 30) AS en,
          |  TRUE AS is_probe
          | FROM b WHERE doc_id % 11 = 0),
          |g0 AS (
          | SELECT ek, en, is_probe,
          |  unnest(list_distinct(list_transform(
          |    range(1, length(en) - 1), i -> substr(en, i, 3)))) AS g
          | FROM e),
          |gdf AS (SELECT g, COUNT(*) AS gdf FROM g0 GROUP BY g),
          |ranked AS (
          | SELECT g0.ek, g0.en, g0.is_probe, g0.g,
          |  row_number() OVER (PARTITION BY g0.ek
          |    ORDER BY gdf.gdf, g0.g) AS rn,
          |  COUNT(*) OVER (PARTITION BY g0.ek) AS nd
          | FROM g0 JOIN gdf ON g0.g = gdf.g),
          |pref AS (
          | SELECT ek, en, is_probe, g FROM ranked WHERE rn <= 7
          | UNION ALL
          | SELECT ek, en, is_probe, '' AS g FROM ranked
          | WHERE rn = 1 AND nd <= 6),
          |cand AS (
          | SELECT DISTINCT q.ek AS qk, q.en AS qn, c.ek AS ck,
          |  c.en AS cn
          | FROM pref q JOIN pref c ON q.g = c.g AND q.ek <> c.ek
          |  AND abs(length(q.en) - length(c.en)) <= 2
          | WHERE q.is_probe),
          |sc AS (
          | SELECT qk, ck, CAST(levenshtein(qn, cn) AS BIGINT) AS dist
          | FROM cand WHERE levenshtein(qn, cn) <= 2),
          |r AS (
          | SELECT qk, ck, dist, row_number() OVER (PARTITION BY qk
          |   ORDER BY dist, ck) AS rn
          | FROM sc)
          |SELECT qk - 1000000000 AS doc_id, ck AS match_id, dist
          |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "d32_snapshot_diff" ->
        """WITH b AS (
          | SELECT doc_id, source, text FROM documents
          | WHERE text IS NOT NULL),
          |o AS (
          | SELECT doc_id, source, md5(text) AS oh FROM b
          | WHERE doc_id % 13 <> 0),
          |n AS (
          | SELECT doc_id, source,
          |  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
          |    AS t2
          | FROM b WHERE doc_id % 17 <> 0),
          |n2 AS (
          | SELECT doc_id, source, md5(t2) AS nh,
          |  CAST(length(t2) AS BIGINT) AS nchars
          | FROM n),
          |j AS (
          | SELECT COALESCE(o.source, n2.source) AS source,
          |  CASE WHEN o.doc_id IS NULL THEN 'added'
          |       WHEN n2.doc_id IS NULL THEN 'removed'
          |       WHEN o.oh <> n2.nh THEN 'changed'
          |       ELSE 'unchanged' END AS status,
          |  COALESCE(n2.nchars, 0) AS nchars
          | FROM o FULL JOIN n2 ON o.doc_id = n2.doc_id)
          |SELECT source, status, COUNT(*) AS n_docs,
          | CAST(SUM(nchars) AS BIGINT) AS total_chars
          |FROM j GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

      "d33_serving_pipeline" -> {
        // The serving composite's twin: d18/d21's probe CTEs (corpus =
        // base ∪ delta = doc_id % 7 <> 0, so values match the
        // segment-union probe exactly), d27's bloom CTEs, plus the
        // shared annServeCtes chain on d23's day slices. The oracle
        // computes exact_dup UNGATED — bloom soundness (no false
        // negatives) makes the gated Spark join value-identical.
        def bit(e: String, j: Int): String =
          s"(('0x' || substr(md5($e || '#$j'), 1, 8))::BIGINT % 4096)"
        s"""WITH sigx AS (
           | SELECT doc_id,
           |  list_distinct(list_transform(string_split(text,' '), t -> $duckTokHash)) AS tset,
           |  [${A.indices.map(j => s"list_min(list_transform(string_split(text,' '), t -> (${A(j)} * $duckTokHash + ${B(j)}) % 2147483647))").mkString(", ")}] AS sig
           | FROM documents),
           |h AS (SELECT doc_id, md5(text) AS ch FROM documents),
           |bits AS (
           | SELECT DISTINCT sb FROM (
           |  SELECT unnest([${bit("ch", 0)}, ${bit("ch", 1)},
           |    ${bit("ch", 2)}]) AS sb
           |  FROM h WHERE doc_id % 7 <> 0)),
           |bl AS (
           | SELECT b.doc_id,
           |  CAST(CASE WHEN t0.sb IS NOT NULL AND t1.sb IS NOT NULL
           |    AND t2.sb IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |   AS bloom_pass
           | FROM (SELECT doc_id, ${bit("ch", 0)} AS b0,
           |        ${bit("ch", 1)} AS b1, ${bit("ch", 2)} AS b2
           |       FROM h WHERE doc_id % 7 = 0) b
           |  LEFT JOIN bits t0 ON b.b0 = t0.sb
           |  LEFT JOIN bits t1 ON b.b1 = t1.sb
           |  LEFT JOIN bits t2 ON b.b2 = t2.sb),
           |exactx AS (
           | SELECT b.doc_id,
           |  CAST(CASE WHEN EXISTS (
           |    SELECT 1 FROM h c
           |    WHERE c.doc_id % 7 <> 0 AND c.ch = b.ch)
           |   THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
           | FROM h b WHERE b.doc_id % 7 = 0),
           |bandsx AS (
           | SELECT doc_id, generate_subscripts(sig,1)-1 AS band,
           |  unnest(sig) AS mh, tset
           | FROM sigx),
           |cpopx AS (
           | SELECT band, mh, COUNT(*) AS pop FROM bandsx
           | WHERE doc_id % 7 <> 0 GROUP BY band, mh),
           |candx AS (
           | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
           |  a.tset AS ta, b.tset AS tb
           | FROM bandsx a JOIN bandsx b
           |  ON a.band = b.band AND a.mh = b.mh
           |  JOIN cpopx p ON b.band = p.band AND b.mh = p.mh
           | WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
           |  AND p.pop <= $BandCap),
           |jcx AS (
           | SELECT da, db,
           |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
           |    (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jac
           | FROM candx),
           |verx AS (
           | SELECT da, COUNT(*) AS n_candidates,
           |  CAST(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_near,
           |  CAST(SUM(CASE WHEN jac >= 0.7 AND db % 7 = 3
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_near_delta
           | FROM jcx GROUP BY da),
           |${Similarity.annServeCtes(
               "vec_id % 7 <> 0 AND vec_id % 7 <> 3",
               "vec_id % 7 = 3", "q.vec_id % 7 = 0")},
           |ann AS (
           | SELECT q_id, c_id AS ann_nn, sim AS ann_sim,
           |  seg AS ann_seg
           | FROM reranked WHERE rnk = 1)
           |SELECT e.doc_id, bl.bloom_pass, e.exact_dup,
           | COALESCE(v.n_candidates, 0) AS n_candidates,
           | COALESCE(v.n_near, 0) AS n_near,
           | COALESCE(v.n_near_delta, 0) AS n_near_delta,
           | a.ann_nn, a.ann_sim, a.ann_seg
           |FROM exactx e
           | JOIN bl ON e.doc_id = bl.doc_id
           | LEFT JOIN verx v ON e.doc_id = v.da
           | LEFT JOIN ann a ON e.doc_id = a.q_id
           |ORDER BY e.doc_id""".stripMargin
      },

      "d34_decontamination" ->
        s"""WITH d AS (
           | SELECT doc_id, string_split(text, ' ') AS tk
           | FROM documents WHERE text IS NOT NULL),
           |w AS (
           | SELECT DISTINCT doc_id,
           |  ${shingleHashSqlDuck.format(
                s"array_to_string(list_slice(tk, p, p + ${DupSpanK - 1}), ' ')")} AS h
           | FROM (SELECT doc_id, tk,
           |   unnest(range(1, greatest(len(tk) - ${DupSpanK - 1}, 0) + 1)) AS p
           |  FROM d)),
           |ew AS (SELECT doc_id, h FROM w WHERE doc_id % 7 = 5),
           |tw AS (SELECT doc_id AS t_id, h FROM w WHERE doc_id % 7 <> 5),
           |nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM ew GROUP BY doc_id),
           |hits AS (SELECT ew.doc_id, ew.h, tw.t_id FROM ew JOIN tw USING (h)),
           |sw AS (SELECT doc_id, COUNT(DISTINCT h) AS n_shared_windows
           | FROM hits GROUP BY doc_id),
           |sd AS (SELECT doc_id, COUNT(DISTINCT t_id) AS n_contam_docs
           | FROM hits GROUP BY doc_id)
           |SELECT d.doc_id AS eval_doc,
           | CAST(COALESCE(nw.n_windows, 0) AS BIGINT) AS n_windows,
           | CAST(COALESCE(sw.n_shared_windows, 0) AS BIGINT) AS n_shared_windows,
           | CAST(COALESCE(sd.n_contam_docs, 0) AS BIGINT) AS n_contam_docs,
           | CASE WHEN COALESCE(nw.n_windows, 0) > 0
           |  THEN CAST(COALESCE(sw.n_shared_windows, 0) AS DOUBLE) /
           |   CAST(nw.n_windows AS DOUBLE)
           |  ELSE 0.0 END AS containment
           |FROM d
           | LEFT JOIN nw USING (doc_id)
           | LEFT JOIN sw USING (doc_id)
           | LEFT JOIN sd USING (doc_id)
           |WHERE d.doc_id % 7 = 5
           |ORDER BY eval_doc""".stripMargin,

      "d35_cross_source_overlap" ->
        """WITH d AS (
          | SELECT source, doc_id, string_split(text, ' ') AS tk
          | FROM documents WHERE text IS NOT NULL),
          |c AS (
          | SELECT source, doc_id, tk,
          |  unnest(range(0, greatest(len(tk) - 1, 0) + 1, 20)) AS idx
          | FROM d),
          |b AS (
          | SELECT source, doc_id,
          |  md5(array_to_string(list_slice(tk, idx + 1, idx + 20), ' '))
          |    AS h
          | FROM c),
          |ps AS (
          | SELECT h, source, COUNT(DISTINCT doc_id) AS nd
          | FROM b GROUP BY h, source)
          |SELECT a.source AS source_lo, b2.source AS source_hi,
          | COUNT(*) AS n_shared_blocks,
          | CAST(SUM(a.nd) AS BIGINT) AS n_docs_lo,
          | CAST(SUM(b2.nd) AS BIGINT) AS n_docs_hi
          |FROM ps a JOIN ps b2 ON a.h = b2.h AND a.source < b2.source
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // d07's component CTEs + per-source rollup; soft weights in the
      // same floor(n_toks*1e6 / csize) fixed-point integer form.
      "d36_soft_dedup" ->
        s"""WITH RECURSIVE $lshCompCtes,
           |lens AS (
           | SELECT doc_id, source,
           |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks
           | FROM documents),
           |labeled AS (
           | SELECT l.doc_id, l.source, l.n_toks,
           |  COALESCE(c.cluster, l.doc_id) AS cluster
           | FROM lens l LEFT JOIN comp c ON l.doc_id = c.doc_id),
           |ranked AS (
           | SELECT source, cluster, doc_id, n_toks,
           |  row_number() OVER (PARTITION BY cluster
           |    ORDER BY n_toks DESC, doc_id) AS rnk,
           |  COUNT(*) OVER (PARTITION BY cluster) AS csize
           | FROM labeled)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           | CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           | CAST(SUM(n_toks) AS BIGINT) AS raw_tokens,
           | CAST(SUM(CASE WHEN rnk = 1 THEN n_toks ELSE 0 END)
           |   AS BIGINT) AS hard_tokens,
           | CAST(SUM((n_toks * 1000000) // csize) AS BIGINT)
           |   AS soft_tokens_e6
           |FROM ranked GROUP BY source ORDER BY source""".stripMargin,

      // d36's component CTEs; takedown = md5 first hex <= '1'; new
      // keeper via arg_min over surviving rnk (Spark: struct-min).
      "d37_deletion_audit" ->
        s"""WITH RECURSIVE $lshCompCtes,
           |lens AS (
           | SELECT doc_id, source,
           |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
           |    <= '1' THEN 1 ELSE 0 END AS del
           | FROM documents),
           |labeled AS (
           | SELECT l.doc_id, l.source, l.n_toks, l.del,
           |  COALESCE(c.cluster, l.doc_id) AS cluster
           | FROM lens l LEFT JOIN comp c ON l.doc_id = c.doc_id),
           |ranked AS (
           | SELECT *, row_number() OVER (PARTITION BY cluster
           |   ORDER BY n_toks DESC, doc_id) AS rnk
           | FROM labeled),
           |cl AS (
           | SELECT cluster, COUNT(*) AS n_members, SUM(del) AS n_del,
           |  SUM(del * n_toks) AS tok_del,
           |  MAX(CASE WHEN rnk = 1 THEN source END) AS ksrc,
           |  MAX(CASE WHEN rnk = 1 THEN del END) AS kdel,
           |  arg_min(source, rnk) FILTER (WHERE del = 0) AS newsrc
           | FROM ranked GROUP BY cluster)
           |SELECT ksrc AS source,
           | CAST(COUNT(*) AS BIGINT) AS n_clusters,
           | CAST(SUM(n_members) AS BIGINT) AS n_docs,
           | CAST(SUM(n_del) AS BIGINT) AS n_deleted,
           | CAST(SUM(tok_del) AS BIGINT) AS tok_deleted,
           | CAST(SUM(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS clusters_touched,
           | CAST(SUM(kdel) AS BIGINT) AS keepers_lost,
           | CAST(SUM(CASE WHEN kdel = 1 AND newsrc IS NOT NULL
           |   THEN 1 ELSE 0 END) AS BIGINT) AS reelected,
           | CAST(SUM(CASE WHEN n_del = n_members THEN 1 ELSE 0 END)
           |   AS BIGINT) AS erased,
           | CAST(SUM(CASE WHEN kdel = 1 AND newsrc IS NOT NULL
           |   AND newsrc <> ksrc THEN 1 ELSE 0 END) AS BIGINT)
           |   AS moved_source
           |FROM cl GROUP BY ksrc ORDER BY source""".stripMargin,

      // Same 20-row arithmetic: w = 20 - N, B = total // 3, capped
      // proportional round 1, re-weighted remainder round 2.
      "d38_mix_plan" ->
        """WITH src AS (
          | SELECT source,
          |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS avail,
          |  20 - CAST(substring(source, 4) AS BIGINT) AS w
          | FROM documents GROUP BY source),
          |tot AS (
          | SELECT CAST(SUM(avail) AS BIGINT) AS ta,
          |  CAST(SUM(w) AS BIGINT) AS tw FROM src),
          |r1 AS (
          | SELECT source, w, avail, ta // 3 AS budget,
          |  least(avail, (w * (ta // 3)) // tw) AS a1,
          |  CASE WHEN least(avail, (w * (ta // 3)) // tw) < avail
          |    THEN 1 ELSE 0 END AS open
          | FROM src CROSS JOIN tot),
          |lf AS (
          | SELECT CAST(MAX(budget) - SUM(a1) AS BIGINT) AS l1,
          |  CAST(SUM(open * w) AS BIGINT) AS wu FROM r1)
          |SELECT source, CAST(w AS BIGINT) AS w,
          | CAST(avail AS BIGINT) AS avail_toks,
          | CAST(budget AS BIGINT) AS budget,
          | CAST(a1 AS BIGINT) AS alloc_r1,
          | CAST(CASE WHEN open = 1 AND wu > 0
          |   THEN least(avail - a1, (w * l1) // wu)
          |   ELSE 0 END AS BIGINT) AS alloc_r2,
          | CAST(a1 + CASE WHEN open = 1 AND wu > 0
          |   THEN least(avail - a1, (w * l1) // wu)
          |   ELSE 0 END AS BIGINT) AS alloc,
          | CAST(1 - open AS BIGINT) AS saturated_r1,
          | CAST(a1 + CASE WHEN open = 1 AND wu > 0
          |   THEN least(avail - a1, (w * l1) // wu)
          |   ELSE 0 END AS DOUBLE) / CAST(avail AS DOUBLE) AS fill_frac
          |FROM r1 CROSS JOIN lf ORDER BY source""".stripMargin,

      // Same shingle grain as d04's oracle, same rarest-first prefix
      // (sz//10+1) probing the full postings, exact verify.
      "d39_containment_pairs" -> {
        val shHash = shingleHashSqlDuck.format(
          "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]")
        s"""WITH d AS (
           | SELECT doc_id, string_split(text, ' ') AS toks
           | FROM documents),
           |shs AS (
           | SELECT doc_id,
           |  list_distinct(list_transform(range(len(toks) - 2),
           |    i -> $shHash)) AS shs
           | FROM d),
           |ex AS (
           | SELECT doc_id, CAST(len(shs) AS BIGINT) AS sz,
           |  unnest(shs) AS h
           | FROM shs),
           |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
           |ord AS (
           | SELECT e.doc_id,
           |  list({'df': f.df, 'h': e.h} ORDER BY f.df, e.h) AS ord,
           |  COUNT(*) AS sza
           | FROM ex e JOIN dfreq f USING (h) GROUP BY e.doc_id),
           |pref AS (
           | SELECT doc_id AS da, sza,
           |  unnest(list_slice(ord, 1, CAST(sza // 10 + 1 AS INT))) AS p
           | FROM ord),
           |ph AS (SELECT da, sza, p.h AS h FROM pref),
           |cand AS (
           | SELECT DISTINCT a.da, e.doc_id AS db
           | FROM ph a JOIN ex e ON a.h = e.h
           |  AND (a.sza < e.sz OR (a.sza = e.sz AND a.da < e.doc_id)))
           |SELECT da, db,
           | CAST(len(x.shs) AS BIGINT) AS sz_small,
           | CAST(len(y.shs) AS BIGINT) AS sz_big,
           | CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT) AS inter,
           | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
           |   CAST(len(x.shs) AS DOUBLE) AS cont,
           | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
           |   CAST(len(x.shs) + len(y.shs)
           |     - len(list_intersect(x.shs, y.shs)) AS DOUBLE) AS jac,
           | CAST(CASE WHEN CAST(len(list_intersect(x.shs, y.shs))
           |     AS DOUBLE) /
           |   CAST(len(x.shs) + len(y.shs)
           |     - len(list_intersect(x.shs, y.shs)) AS DOUBLE) >= 0.7
           |   THEN 1 ELSE 0 END AS BIGINT) AS jac_caught
           |FROM cand JOIN shs x ON da = x.doc_id
           | JOIN shs y ON db = y.doc_id
           |WHERE len(list_intersect(x.shs, y.shs)) * 10 >= len(x.shs) * 9
           |ORDER BY da, db""".stripMargin
      },

      // d39's oracle shape at block grain (same prefix-filter mirror —
      // an all-pairs brute at sf0.1 would be 25M list_intersects):
      // units are d12's 20-token block md5s, threshold C >= 1/2.
      "d40_block_containment" ->
        """WITH d AS (
          | SELECT doc_id, string_split(text, ' ') AS tk
          | FROM documents WHERE text IS NOT NULL),
          |bl AS (
          | SELECT doc_id,
          |  list_sort(list_distinct(list_transform(
          |    range(0, greatest(len(tk) - 1, 0) + 1, 20),
          |    i -> ('0x' || substr(md5(array_to_string(
          |      list_slice(tk, i + 1, i + 20), ' ')),1,15))::BIGINT)))
          |    AS shs
          | FROM d),
          |ex AS (
          | SELECT doc_id, CAST(len(shs) AS BIGINT) AS sz,
          |  unnest(shs) AS h
          | FROM bl),
          |dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
          |ord AS (
          | SELECT e.doc_id,
          |  list({'df': f.df, 'h': e.h} ORDER BY f.df, e.h) AS ord,
          |  COUNT(*) AS sza
          | FROM ex e JOIN dfreq f USING (h) GROUP BY e.doc_id),
          |pref AS (
          | SELECT doc_id AS da, sza,
          |  unnest(list_slice(ord, 1, CAST(sza // 2 + 1 AS INT))) AS p
          | FROM ord),
          |ph AS (SELECT da, sza, p.h AS h FROM pref),
          |cand AS (
          | SELECT DISTINCT a.da, e.doc_id AS db
          | FROM ph a JOIN ex e ON a.h = e.h
          |  AND (a.sza < e.sz OR (a.sza = e.sz AND a.da < e.doc_id)))
          |SELECT da, db,
          | CAST(len(x.shs) AS BIGINT) AS sz_small,
          | CAST(len(y.shs) AS BIGINT) AS sz_big,
          | CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT) AS inter,
          | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
          |   CAST(len(x.shs) AS DOUBLE) AS cont,
          | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
          |   CAST(len(x.shs) + len(y.shs)
          |     - len(list_intersect(x.shs, y.shs)) AS DOUBLE) AS jac,
          | CAST(CASE WHEN CAST(len(list_intersect(x.shs, y.shs))
          |     AS DOUBLE) /
          |   CAST(len(x.shs) + len(y.shs)
          |     - len(list_intersect(x.shs, y.shs)) AS DOUBLE) >= 0.7
          |   THEN 1 ELSE 0 END AS BIGINT) AS jac_caught
          |FROM cand JOIN bl x ON da = x.doc_id
          | JOIN bl y ON db = y.doc_id
          |WHERE len(list_intersect(x.shs, y.shs)) * 2 >= len(x.shs)
          |ORDER BY da, db""".stripMargin,

      // d41: d12's clean-text CTE chain feeds d40's containment engine
      // for the clean phase, the raw corpus feeds it for the baseline;
      // each phase reduces to the integer counters (jac_caught keeps
      // the double compare both engines share in d39/d40).
      "d41_clean_containment" -> {
        def phaseCtes(p: String, src: String, label: String): String =
          s"""bl_$p AS (
             | SELECT doc_id, list_sort(list_distinct(list_transform(
             |   range(0, greatest(len(string_split(text, ' ')) - 1, 0)
             |     + 1, 20),
             |   i -> ('0x' || substr(md5(array_to_string(list_slice(
             |     string_split(text, ' '), i + 1, i + 20), ' ')),
             |     1,15))::BIGINT)))
             |   AS shs
             | FROM $src),
             |ex_$p AS (
             | SELECT doc_id, CAST(len(shs) AS BIGINT) AS sz,
             |  unnest(shs) AS h
             | FROM bl_$p),
             |dfreq_$p AS (SELECT h, COUNT(*) AS df FROM ex_$p GROUP BY h),
             |ord_$p AS (
             | SELECT e.doc_id,
             |  list({'df': f.df, 'h': e.h} ORDER BY f.df, e.h) AS ord,
             |  COUNT(*) AS sza
             | FROM ex_$p e JOIN dfreq_$p f USING (h) GROUP BY e.doc_id),
             |ph_$p AS (
             | SELECT da, sza, p.h AS h FROM (
             |  SELECT doc_id AS da, sza,
             |   unnest(list_slice(ord, 1, CAST(sza // 2 + 1 AS INT)))
             |     AS p
             |  FROM ord_$p) t),
             |cand_$p AS (
             | SELECT DISTINCT a.da, e.doc_id AS db
             | FROM ph_$p a JOIN ex_$p e ON a.h = e.h
             |  AND (a.sza < e.sz OR (a.sza = e.sz AND a.da < e.doc_id))),
             |pairs_$p AS (
             | SELECT
             |  CAST(len(x.shs) AS BIGINT) AS sz_small,
             |  CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT)
             |    AS inter,
             |  CAST(len(x.shs) + len(y.shs)
             |    - len(list_intersect(x.shs, y.shs)) AS BIGINT) AS un
             | FROM cand_$p JOIN bl_$p x ON da = x.doc_id
             |  JOIN bl_$p y ON db = y.doc_id
             | WHERE len(list_intersect(x.shs, y.shs)) * 2 >= len(x.shs)),
             |sum_$p AS (
             | SELECT '$label' AS phase,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bl_$p) AS n_docs,
             |  (SELECT CAST(COALESCE(SUM(len(shs)), 0) AS BIGINT)
             |    FROM bl_$p) AS n_blocks,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_$p)
             |    AS n_pairs,
             |  (SELECT CAST(COALESCE(SUM(CASE WHEN inter * 10 >=
             |      sz_small * 9 THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    FROM pairs_$p) AS n_strict,
             |  (SELECT CAST(COALESCE(SUM(CASE WHEN
             |      CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) >= 0.7
             |      THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    FROM pairs_$p) AS n_jac_caught)""".stripMargin
        s"""WITH dd12 AS (
           | SELECT doc_id, string_split(text, ' ') AS tk
           | FROM documents WHERE text IS NOT NULL),
           |c12 AS (
           | SELECT doc_id, tk,
           |  unnest(range(0, greatest(len(tk) - 1, 0) + 1, 20)) AS idx
           | FROM dd12),
           |ph12 AS (
           | SELECT doc_id, CAST(idx AS BIGINT) AS idx,
           |  array_to_string(list_slice(tk, idx + 1, idx + 20), ' ') AS p,
           |  md5(array_to_string(list_slice(tk, idx + 1, idx + 20), ' '))
           |    AS h,
           |  {'doc_id': doc_id, 'idx': CAST(idx AS BIGINT)} AS key
           | FROM c12),
           |canon12 AS (SELECT h, MIN(key) AS ck FROM ph12 GROUP BY h),
           |cleanall AS (
           | SELECT ph12.doc_id,
           |  COALESCE(string_agg(CASE WHEN key = ck THEN p END, ' '
           |    ORDER BY idx), '') AS text
           | FROM ph12 JOIN canon12 ON ph12.h = canon12.h
           | GROUP BY ph12.doc_id),
           |cleanf AS (SELECT doc_id, text FROM cleanall
           | WHERE len(text) > 0),
           |rawd AS (SELECT doc_id, text FROM documents
           | WHERE text IS NOT NULL),
           |${phaseCtes("c", "cleanf", "clean_d12")},
           |${phaseCtes("r", "rawd", "raw")}
           |SELECT * FROM sum_c UNION ALL SELECT * FROM sum_r
           |ORDER BY phase""".stripMargin
      },

      // d42: the three grains as unioned per-K gram CTEs (the engine
      // fuses them into one Generate; the oracle favors clarity),
      // distinct (k, gram, source[, doc]) grains, equi-join detection.
      "d42_contamination_sweep" -> {
        // 60-bit md5-prefix fold — the engine's shingle_hashes space
        // (round 16): identical bits to Spark's fused per-doc pass.
        def gramCte(k: Int): String =
          s"""SELECT CAST($k AS BIGINT) AS k,
             |  ${shingleHashSqlDuck.format(
                  s"array_to_string(list_slice(tk, i + 1, i + $k), ' ')")}
             |    AS h,
             |  source, doc_id
             | FROM (
             |  SELECT doc_id, source, tk,
             |   unnest(range(0, len(tk) - $k + 1)) AS i
             |  FROM d WHERE len(tk) >= $k) t""".stripMargin
        s"""WITH d AS (
           | SELECT doc_id, source, string_split(text, ' ') AS tk
           | FROM documents WHERE text IS NOT NULL),
           |gd AS (
           | SELECT DISTINCT k, h, source, doc_id FROM (
           |${gramCte(8)}
           | UNION ALL
           |${gramCte(16)}
           | UNION ALL
           |${gramCte(32)}) g),
           |gs AS (SELECT DISTINCT k, h, source FROM gd),
           |shared AS (
           | SELECT a.k, a.h, a.source AS sa, b.source AS sb
           | FROM gs a JOIN gs b ON a.k = b.k AND a.h = b.h
           | WHERE a.source < b.source),
           |ng AS (
           | SELECT k, sa, sb, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
           | FROM shared GROUP BY k, sa, sb),
           |da AS (
           | SELECT s.k, s.sa, s.sb,
           |  CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs_a
           | FROM shared s JOIN gd g
           |  ON s.k = g.k AND s.h = g.h AND s.sa = g.source
           | GROUP BY s.k, s.sa, s.sb),
           |db AS (
           | SELECT s.k, s.sa, s.sb,
           |  CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs_b
           | FROM shared s JOIN gd g
           |  ON s.k = g.k AND s.h = g.h AND s.sb = g.source
           | GROUP BY s.k, s.sa, s.sb)
           |SELECT ng.k, ng.sa, ng.sb, ng.n_shared_grams,
           | da.n_docs_a, db.n_docs_b
           |FROM ng JOIN da ON ng.k = da.k AND ng.sa = da.sa
           |  AND ng.sb = da.sb
           | JOIN db ON ng.k = db.k AND ng.sa = db.sa AND ng.sb = db.sb
           |ORDER BY ng.k, ng.sa, ng.sb""".stripMargin
      },

      "d07_keep_best" ->
        s"""WITH RECURSIVE $lshCompCtes,
           |lens AS (
           | SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks
           | FROM documents),
           |labeled AS (
           | SELECT l.doc_id, l.n_toks, COALESCE(c.cluster, l.doc_id) AS cluster
           | FROM lens l LEFT JOIN comp c ON l.doc_id = c.doc_id),
           |ranked AS (
           | SELECT cluster, doc_id, n_toks,
           |  row_number() OVER (PARTITION BY cluster ORDER BY n_toks DESC, doc_id) AS rnk,
           |  COUNT(*) OVER (PARTITION BY cluster) AS n_members
           | FROM labeled)
           |SELECT cluster, doc_id AS kept_doc, n_toks, n_members
           |FROM ranked WHERE rnk = 1 ORDER BY cluster""".stripMargin,

      "d04_ngram_jaccard" -> {
        val shHash = shingleHashSqlDuck.format(
          "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]")
        s"""WITH d AS (
           | SELECT doc_id, source, string_split(text, ' ') AS toks
           | FROM documents),
           |shs AS (
           | SELECT doc_id, source,
           |  list_distinct(list_transform(range(len(toks) - 2),
           |    i -> $shHash)) AS shs
           | FROM d),
           |ex AS (SELECT doc_id, source, unnest(shs) AS h FROM shs),
           |dfreq AS (
           | SELECT source, h, COUNT(*) AS df FROM ex GROUP BY source, h),
           |rare AS (
           | SELECT e.doc_id, e.source, e.h FROM ex e
           | JOIN dfreq f ON e.source = f.source AND e.h = f.h
           | WHERE f.df <= $ShingleDfCap),
           |cand AS (
           | SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           | FROM rare a JOIN rare b
           |  ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id)
           |SELECT da, db,
           | CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
           |   (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) AS jac
           |FROM cand JOIN shs x ON da = x.doc_id JOIN shs y ON db = y.doc_id
           |WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
           |   (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.5
           |ORDER BY jac DESC, da, db LIMIT 100""".stripMargin
      },

      "d05_simhash" ->
        s"""WITH ex AS (
           | SELECT doc_id, $duckTokHash AS h
           | FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)),
           |bits AS (
           | SELECT doc_id,
           |  $bitSums
           | FROM ex GROUP BY doc_id)
           |SELECT doc_id, $bitVal AS simhash16
           |FROM bits ORDER BY doc_id""".stripMargin
    )
  }
}
